package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Core OLAP operator coverage (SURVEY.md §2.2): the analytics engine
  * underneath the stream surface.
  *
  * Scale notes baked into each query:
  * - dims replicate while fact tables shuffle-partition on their keys:
  *   supplier/part/customer by a `broadcast()` pin, nation/region by size;
  * - all aggregations are partial-agg friendly (sum/count/min/max), so
  *   the shuffle carries group keys only;
  * - money math is exact integer arithmetic (cents / 1e-4 / 1e-6 units)
  *   then one deterministic float division at the end — bit-identical
  *   across engines and immune to summation-order drift.
  */
object OlapQueries {

  /** l_extendedprice in exact integer cents. */
  private val extCents: Column =
    round(col("l_extendedprice") * 100, 0).cast("long")
  /** l_discount / l_tax in exact integer percent. */
  private val discPct: Column = round(col("l_discount") * 100, 0).cast("long")
  private val taxPct: Column = round(col("l_tax") * 100, 0).cast("long")

  /** revenue = extendedprice * (1 - discount), exact in 1e-4 dollars. */
  private val revenueE4: Column = extCents * (lit(100L) - discPct)
  /** charge = revenue * (1 + tax), exact in 1e-6 dollars. */
  private val chargeE6: Column = revenueE4 * (lit(100L) + taxPct)

  private val revenueE4Sql =
    "CAST(round(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))"
  private val chargeE6Sql =
    s"$revenueE4Sql * (100 + CAST(round(l_tax * 100, 0) AS BIGINT))"

  /** TPC-H Q1 shape: scan + filter pushdown + wide hash aggregate. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp_ntz(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(extCents).as("sum_base_price_cents"),
        sum(revenueE4).as("sum_disc_price_e4"),
        sum(chargeE6).as("sum_charge_e6"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        (col("sum_base_price_cents").cast("double") / 100.0).as("sum_base_price"),
        (col("sum_disc_price_e4").cast("double") / 10000.0).as("sum_disc_price"),
        (col("sum_charge_e6").cast("double") / 1000000.0).as("sum_charge"),
        (col("sum_qty").cast("double") / col("count_order")).as("avg_qty"),
        (col("sum_base_price_cents").cast("double") / 100.0 / col("count_order"))
          .as("avg_price"),
        col("count_order"))

  /** TPC-H Q3 shape: 3-way join (one broadcast dim) + agg + top-N. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < to_timestamp_ntz(lit("1998-01-01")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > to_timestamp_ntz(lit("1998-01-01")))
      .select(col("l_orderkey"), revenueE4.as("rev_e4"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey")
      .agg(sum("rev_e4").as("rev_e4"),
        (year(first("o_orderdate"))).as("order_year"))
      .select(col("l_orderkey"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"),
        col("order_year"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: star join over 5 tables, dims broadcast. */
  def q5RevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp_ntz(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp_ntz(lit("1997-01-01")))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), revenueE4.as("rev_e4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust,
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum("rev_e4").as("rev_e4"), count(lit(1)).as("lineitem_count"))
      .select(col("n_name"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"),
        col("lineitem_count"))
  }

  /** Window rank-per-group: top 3 parts by revenue within each supplier
    * nation.
    *
    * The heavy agg + window run on the integer `s_nationkey`; the
    * 25-row nation dim joins in only after the rank filter has cut the
    * data to 75 rows — the big shuffle carries int keys, not name
    * strings. Spark 4's WindowGroupLimit rule turns the rank filter
    * into a per-partition partial top-k before the final sort.
    */
  def topPartPerNation(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val perPart = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_partkey"), revenueE4.as("rev_e4"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey", "l_partkey")
      .agg(sum("rev_e4").as("rev_e4"))
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("rev_e4").desc, col("l_partkey"))
    perPart
      .withColumn("part_rank", row_number().over(w))
      .filter(col("part_rank") <= 3)
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("l_partkey"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"),
        col("part_rank"))
  }

  /** TPC-H Q18 shape: agg-derived semi filter (orders whose lineitems
    * total > 200 units) joined back to the fact + dim. The aggregate
    * runs first so the join input is already reduced to the rare keys.
    */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigKeys = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 200)
    Tables.orders(spark, dir)
      .join(bigKeys, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        round(col("o_totalprice"), 2).as("total_price"),
        col("sum_qty"))
  }

  /** TPC-H Q7 shape: volume shipping between two nations — the
    * both-directions join pattern (supplier nation × customer nation in
    * either orientation) with a year rollup. Nation pairs come from one
    * broadcast dim joined twice under different aliases. */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val wanted = Seq("NATION_3", "NATION_7")
    val supp = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"), revenueE4.as("rev_e4"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nation.as("ns"), col("s_nationkey") === col("ns.n_nationkey"))
      .join(nation.as("nc"), col("c_nationkey") === col("nc.n_nationkey"))
      .filter(
        (col("ns.n_name") === wanted.head && col("nc.n_name") === wanted(1)) ||
          (col("ns.n_name") === wanted(1) && col("nc.n_name") === wanted.head))
      .groupBy(col("ns.n_name").as("supp_nation"),
        col("nc.n_name").as("cust_nation"), col("ship_year"))
      .agg(count(lit(1)).as("n_lines"),
        (sum("rev_e4").cast("double") / 10000.0).as("volume"))
  }

  /** TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    * multi-supplier finished order — the multi-EXISTS pattern (a
    * correlated EXISTS plus a correlated NOT EXISTS over the same
    * fact). ("Late" = shipped >1400 days after the order date — this
    * corpus has no receipt/commit dates, so lateness is defined against
    * the order date; the decorrelated shape is what Q21 exercises.)
    *
    * Plan/scale shape (r19): both correlated EXISTS collapse into ONE
    * order-keyed aggregate — per order: supplier count, late-supplier
    * count, the (then unique) late supplier and its late-lineitem
    * count, as two stacked hash aggregates (the (order, supp)
    * pre-aggregate keeps the distinct counts Expand-free). The previous
    * left-semi + left-anti form re-derived the lineitem⋈orders
    * `flagged` subtree THREE times (probe, semi and anti side); the
    * aggregate form scans it once, and the EXISTS pair becomes a
    * filter on the order rollup (EXISTS other supplier ⇔ n_supp ≥ 2;
    * NOT EXISTS other late supplier ⇔ n_late_supp = 1, since s itself
    * is late so the late set is nonempty). numwait still counts late
    * LINEITEMS per supplier — the semi/anti pair kept one row per late
    * lineitem, and late_rows carries exactly that multiplicity.
    */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 1400 DAYS"))
          .as("late"))
    val perSupp = flagged.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("any_late"),
        sum(when(col("late"), 1L).otherwise(0L)).as("late_rows"))
    val perOrder = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("any_late"), 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("any_late"), col("l_suppkey"))).as("late_supp"),
        // On a qualifying order only the unique late supplier has
        // late_rows > 0, so the plain sum IS that supplier's count.
        sum("late_rows").as("late_rows"))
    perOrder.filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("late_supp") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(coalesce(sum("late_rows"), lit(0L)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** TPC-H Q13 shape: distribution of customers by order count —
    * LEFT OUTER join (zero-order customers kept) under two stacked
    * aggregations: per-customer order count, then the histogram over
    * counts. Both shuffles carry integer keys; the second input is
    * already one row per customer. */
  def orderCountHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q11 shape: per-part revenue kept only when it exceeds 0.05%
    * of the global total — a grouped aggregate HAVING-compared against
    * a scalar aggregate of the same fact. The one-row scalar side
    * broadcasts, and the threshold cross-multiplies in exact integer
    * e4 units, immune to double merge-order drift. */
  def significantParts(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(sum(revenueE4).as("part_rev_e4"))
    val total = Tables.lineitem(spark, dir)
      .agg(sum(revenueE4).as("total_rev_e4"))
    perPart.join(total)
      .filter(col("part_rev_e4") * 2000 > col("total_rev_e4"))
      .select(col("l_partkey"),
        (col("part_rev_e4").cast("double") / 10000.0).as("part_revenue"))
  }

  /** TPC-H Q17 shape: revenue of lineitems whose quantity is below half
    * the per-part average — a correlated average subquery decorrelated
    * into a self-aggregate join on the part key. The threshold
    * comparison is exact cross-multiplied integers
    * (2·qty·count < sum_qty), so no double averaging on the cut. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    // r19: the per-part (Σqty, count) rides a part-keyed window over
    // ONE repartitioned scan instead of a second aggregate joined back
    // (the dominantSuppliers/cheapestSupplier discipline) — the old
    // shape scanned lineitem twice and shuffled it twice. partkey is
    // catalog-cardinality, so the single-key partitioning stays
    // parallel at any scale.
    val qtyE2 = round(col("l_quantity") * 100, 0).cast("long")
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), qtyE2.as("qty_e2"), extCents.as("ext_cents"))
      .repartition(col("l_partkey"))
      .withColumn("sum_qty_e2", sum("qty_e2").over(w))
      .withColumn("n_lines", count(lit(1)).over(w))
      .filter(col("qty_e2") * 2 * col("n_lines") < col("sum_qty_e2"))
      .agg((sum("ext_cents").cast("double") / 100.0 / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q22 shape: customers with an above-average positive balance
    * and no orders since 2001, grouped by a derived country code —
    * scalar-average threshold (broadcast one-row agg, exact
    * cross-multiplied cents) plus an anti join against the recent
    * slice of the fact. (Every customer in this corpus has SOME order,
    * so idleness is recency-based; the decorrelated shape — scalar
    * subquery + NOT EXISTS — is Q22's.) */
  def idleRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    val balCents = round(col("c_acctbal") * 100, 0).cast("long")
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), (col("c_nationkey") % 5).as("cntrycode"),
        balCents.as("bal_cents"))
    val posAvg = cust.filter(col("bal_cents") > 0)
      .agg(sum("bal_cents").as("sum_pos"), count(lit(1)).as("n_pos"))
    cust.join(posAvg)
      .filter(col("bal_cents") * col("n_pos") > col("sum_pos"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= to_timestamp_ntz(lit("2001-01-01")))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"),
        (sum("bal_cents").cast("double") / 100.0).as("totacctbal"))
  }

  /** TPC-H Q4 shape: order-priority counts for orders with at least one
    * late-shipped lineitem — EXISTS as a left-semi join, then a small
    * aggregate over the surviving orders. */
  def priorityLateOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= to_timestamp_ntz(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp_ntz(lit("1998-01-01")))
      .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 1400 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))

  /** TPC-H Q6 shape: the forecasting-revenue microbench — pure scan +
    * pushed filters + single agg, no joins. What it measures at scale
    * is pushdown quality: the parquet scan must receive the date/
    * discount/quantity predicates and read 4 columns. Revenue
    * (extendedprice·discount) is exact integer e4 units. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= to_timestamp_ntz(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp_ntz(lit("1998-01-01")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg((sum(extCents * discPct).cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q2 shape: cheapest supplier per part — min-over-group
    * compared on equality (all ties kept, result deterministic as a
    * set). The per-(part, supplier) price comes from the lineitem fact
    * (this corpus has no partsupp); supplier and nation dims broadcast
    * in after the cut.
    *
    * r19 plan shape: the per-part min rides a part-keyed WINDOW over
    * the (part, supplier) offer aggregate instead of the r18
    * min-per-group + join-back (which paid a second aggregate exchange
    * PLUS a third exchange to re-key offers for the join — and at
    * corpus scale would tempt Catalyst into broadcasting a
    * |parts|-sized build). The window's partition is per-part bounded
    * (≤ |suppliers of one part| rows), and the same exchange feeds
    * aggregate and window. */
  def cheapestSupplierPerPart(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val offers = Tables.lineitem(spark, dir)
      .repartition(col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(extCents).as("offer_cents"))
    offers
      .withColumn("best_cents",
        min("offer_cents").over(Window.partitionBy("l_partkey")))
      .filter(col("offer_cents") === col("best_cents"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, dir).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey"), col("s_name"), col("n_name"),
        (col("offer_cents").cast("double") / 100.0).as("best_price"))
  }

  /** TPC-H Q15 shape: the top-revenue supplier(s) of one quarter — a
    * revenue view aggregated per supplier, joined back against its own
    * broadcast scalar max (ties kept). */
  def topSupplierRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp_ntz(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp_ntz(lit("1997-04-01")))
      .groupBy("l_suppkey")
      .agg(sum(revenueE4).as("total_rev_e4"))
    val top = rev.agg(max("total_rev_e4").as("max_rev_e4"))
    rev.join(top, col("total_rev_e4") === col("max_rev_e4"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("total_rev_e4").cast("double") / 10000.0).as("total_revenue"))
  }

  /** TPC-H Q10 shape: top 20 customers by returned-item revenue — fact
    * filter, join through orders to the customer dim, topN with an
    * explicit key tiebreak. */
  def returnedItemLoss(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revenueE4.as("rev_e4"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("rev_e4").as("rev_e4"))
      .join(broadcast(Tables.customer(spark, dir)
        .select("c_custkey", "c_name", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        (col("rev_e4").cast("double") / 10000.0).as("returned_revenue"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q16 shape: supplier diversity per part attribute — anti join
    * against a supplier exclusion subquery (negative balance standing in
    * for Q16's complaints filter), then count distinct suppliers per
    * (brand, size). */
  def supplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    // No pre-distinct (r19): countDistinct dedups anyway, so the old
    // `.distinct()` paid a full (part, supplier)-keyed exchange whose
    // only effect the final distinct aggregate reproduces — Spark's
    // two-level distinct-agg rewrite dedups (brand, size, supplier)
    // map-side before its own shuffle. The anti join is
    // duplicate-insensitive.
    Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey")
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(spark, dir)
        .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
  }

  /** TPC-H Q8 shape: national market share — the fraction of a region's
    * market revenue supplied from one nation, per year. The share is a
    * conditional sum over the full star join; both the numerator and
    * denominator are exact integer e4 sums, divided once. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val asiaCust = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(nation
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key")),
        col("c_nationkey") === col("cn_key"), "left_semi")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), revenueE4.as("rev_e4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(nation.select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("o_year")
      .agg(
        sum(when(col("n_name") === "NATION_3", col("rev_e4")).otherwise(0L))
          .as("nation_rev_e4"),
        sum("rev_e4").as("total_rev_e4"))
      .select(col("o_year"),
        (col("nation_rev_e4").cast("double") / col("total_rev_e4").cast("double"))
          .as("mkt_share"),
        (col("total_rev_e4").cast("double") / 10000.0).as("market_revenue"))
  }

  /** TPC-H Q9 shape: product profit by supplier nation and year over a
    * color-named part subset ('%red%', the analogue of Q9's '%green%') — a 5-table star with a derived measure
    * (revenue minus quantity·retail cost), all in exact integer e4
    * units until the final division. */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val part5 = Tables.part(spark, dir)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("retail_cents"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"), revenueE4.as("rev_e4"))
      .join(broadcast(part5), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, dir).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("rev_e4") - col("qty") * col("retail_cents") * 100)
        .as("profit_e4"))
      .select(col("nation"), col("o_year"),
        (col("profit_e4").cast("double") / 10000.0).as("profit"))
  }

  /** TPC-H Q20 shape: suppliers who dominate a filtered part's volume —
    * nested aggregates (per-(part, supplier) then per-part totals), an
    * exact cross-multiplied >15% threshold, then a semi chain back to
    * the supplier dim. (This corpus has no partsupp/availqty, so Q20's
    * "excess stock" predicate becomes volume dominance; the nested-agg
    * + IN-chain decorrelation shape is what Q20 exercises.)
    *
    * Plan/scale shape (r19): the per-part total rides a part-keyed
    * window over the per-(part, supplier) aggregate instead of a
    * second aggregate joined back — the join-back re-ran the whole
    * scan⋈blue⋈aggregate subtree for the perPart side. One explicit
    * `repartition(l_partkey)` feeds the aggregate AND the window
    * (HashPartitioning(part) satisfies both ClusteredDistributions),
    * so the plan is one exchange + one pass — the cheapestSupplier
    * discipline; partkey is catalog-cardinality, so the single-key
    * partitioning stays parallel at any scale. */
  def dominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val blue = Tables.part(spark, dir)
      .filter(col("p_name").contains("blue")).select("p_partkey")
    val perSupp = Tables.lineitem(spark, dir)
      .join(broadcast(blue), col("l_partkey") === col("p_partkey"))
      .repartition(col("l_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("long")).as("supp_qty"))
    val dominant = perSupp
      .withColumn("part_qty", sum("supp_qty").over(
        Window.partitionBy("l_partkey")))
      .filter(col("supp_qty") * 20 > col("part_qty") * 3)
      .select("l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(Tables.nation(spark, dir).select("n_nationkey", "n_name"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
  }

  /** Time-bucket rollup: revenue per month. */
  def monthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"))
      .agg(
        count(lit(1)).as("order_count"),
        round(sum("o_totalprice"), 2).as("total_revenue"))

  /** Defining query of the quarterly-revenue MATERIALIZED VIEW — the
    * exact aggregate [[mvRewrite]] registers and then re-states, so
    * the optimizer's structural match is total. Deliberately a shape
    * no other registry query builds (quarter index, cents, two aggs):
    * MvCatalog is session-global during a 6-way Verify run, and a
    * shape collision would silently flip ANOTHER query's plan onto
    * the view (same results — it is the same aggregate — but a
    * nondeterministic plan, which the bench discipline forbids). */
  private[graft] def quarterlyRevenueDef(spark: SparkSession,
      dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(((year(col("o_orderdate")) - 1992) * 4 +
        quarter(col("o_orderdate")) - 1).cast("long").as("qtr"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("qtr")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("total_cents"))

  /** MvCatalog entry names of `dir`'s current corpus version. */
  private def quarterlyName(dir: String) =
    s"quarterly_revenue:${graft.Indexes.cacheKey(dir)}"
  private def rollupName(dir: String) =
    s"quarterly_revenue_rollup:${graft.Indexes.cacheKey(dir)}"
  private def nationName(dir: String) =
    s"nation_revenue:${graft.Indexes.cacheKey(dir)}"

  /** The materialized quarterly-revenue view.
    *
    * RETIREMENT ORDER: superseded fingerprints' MvCatalog entries are
    * deregistered BEFORE the view is written. Canonicalized matching is
    * path-based, so with the rule live the old entry matches the new
    * corpus's defining plan, and the materialization write itself
    * would be rewritten to scan the OLD view parquet — silently copying
    * the old corpus's aggregates into the "new" view. A corpus change
    * is exactly what rebuilds the artifact, so its build is where the
    * superseded entries retire, whichever caller builds it first. */
  private[graft] val MvQuarterly = graft.Indexes.Artifact("mv-quarterly") {
    (spark, dir, out) =>
      graft.plans.MvCatalog
        .deregisterOthers(s"quarterly_revenue:$dir#", quarterlyName(dir))
      graft.plans.MvCatalog
        .deregisterOthers(s"quarterly_revenue_rollup:$dir#", rollupName(dir))
      quarterlyRevenueDef(spark, dir).write.mode("overwrite").parquet(out)
  }

  /** MATERIALIZED-VIEW REWRITE, end to end: build the view parquet
    * once, register its defining plan in [[graft.plans.MvCatalog]],
    * install [[graft.plans.MvRewrite]] as a session optimizer rule,
    * and return the defining query STATED AGAIN — which the optimizer
    * now answers from the view (MvRewriteSpec pins the substitution:
    * the executed plan scans the view parquet and touches the fact
    * table zero times; this oracle pins that the rewritten plan still
    * produces the aggregate's exact rows). The serving half of the
    * IVM story: q_ivm_monthly_revenue shows the summary is cheap to
    * MAINTAIN, this shows queries USE it with no client-side rewrite.
    */
  def mvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val path = MvQuarterly.path(spark, dir)
    val mvName = quarterlyName(dir)
    val rollName = rollupName(dir)
    // Registration is atomic skip-if-present (ADVICE r11 + r12): on a
    // SECOND call the rule is already live, so re-deriving the
    // defining plan here yields the REWRITTEN view-scan form, and
    // re-registering would overwrite the aggregate canon with it —
    // silently ending all future matches and making the plan
    // nondeterministic across bench repetitions. registerIfAbsent runs
    // the derivation at most once under the catalog's own per-key
    // lock, so parallel suites can't race past a separate check. The
    // canons captured on the first call stay valid for the life of the
    // JVM (the defining shape is a pure function of the corpus dir).
    //
    // RETIREMENT ORDER, part 2: the same reasoning covers the canon
    // derivation below — with a stale entry live, the derivation would
    // capture a view-scan-shaped canon (or, now that eviction
    // tree-deletes, throw PATH_NOT_FOUND on the old parquet). Both
    // windows are closed by the retirement inside MvQuarterly's build.
    graft.plans.MvCatalog.registerIfAbsent(mvName) {
      val defDf = quarterlyRevenueDef(spark, dir)
      // Canonical forms captured BEFORE registration: computing
      // optimizedPlan after the catalog entry exists would let the rule
      // rewrite the defining plan itself, and the stored "definition"
      // would be the view scan.
      val canons = Seq(defDf.queryExecution.analyzed,
        defDf.queryExecution.optimizedPlan)
      (canons, () => spark.read.parquet(path).queryExecution.analyzed)
    }
    // ROLL-UP CONTAINMENT (step 3 past exact match and filter-over-view
    // — the most common BI containment case): a YEARLY restatement is
    // answerable from the quarterly view by RE-AGGREGATING view rows
    // (year = qtr div 4 + 1992; count rolls up as sum-of-counts, sum as
    // sum-of-sums — both decomposable). Registered as its own catalog
    // entry whose canon is the yearly-over-fact plan and whose
    // substitute is the re-aggregation OVER THE VIEW READ, so the
    // structural-equality rule delivers the containment case without
    // any containment reasoning at match time — a non-decomposable
    // yearly aggregate (exact median) matches nothing and keeps its
    // fact plan (MvRewriteSpec pins both).
    graft.plans.MvCatalog.registerIfAbsent(rollName) {
      val yDef = yearlyRevenueDef(spark, dir)
      val canons = Seq(yDef.queryExecution.analyzed,
        yDef.queryExecution.optimizedPlan)
      def rollup() = spark.read.parquet(path)
        .selectExpr("CAST(qtr div 4 + 1992 AS BIGINT) AS yr",
          "n_orders", "total_cents")
        .groupBy("yr")
        .agg(sum("n_orders").as("n_orders"),
          sum("total_cents").as("total_cents"))
      (canons, () => rollup().queryExecution.analyzed)
    }
    installMvRule(spark)
    quarterlyRevenueDef(spark, dir)
  }

  /** Install [[graft.plans.MvRewrite]] into the session's extra
    * optimizer rules, idempotently (the end-of-analysis injection point
    * rides GraftExtensions at session build and needs no install). */
  private[graft] def installMvRule(spark: SparkSession): Unit =
    OlapQueries.synchronized {
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.MvRewrite))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.MvRewrite
    }

  /** FILTER-OVER-VIEW rewrite — the first containment step past exact
    * match (the Calcite filter-on-view case, and the one dashboards
    * actually hit: "recent quarters only" over the quarterly view).
    * The query is the defining aggregate RESTATED plus a residual
    * predicate on a grouping column. The `extraOptimizations` slot
    * cannot catch this (pushdown has already threaded the filter
    * through the Aggregate by the time user rules run), so the rule
    * also rides `GraftExtensions.injectPostHocResolutionRule`: at end
    * of analysis the pristine Aggregate subtree is still intact, the
    * structural match fires, and the MAIN optimizer then pushes
    * `qtr >= 8` into the VIEW parquet scan — fact scan gone AND the
    * residual predicate lands as a parquet PushedFilter on the view
    * (MvRewriteSpec pins both plan facts + row parity).
    */
  def mvRewriteFiltered(spark: SparkSession, dir: String): DataFrame = {
    mvRewrite(spark, dir) // build + register + install, all idempotent
    quarterlyRevenueDef(spark, dir).filter(col("qtr") >= 8)
  }

  /** Yearly revenue stated directly over the fact table — the COARSER
    * re-aggregation the roll-up containment entry (see [[mvRewrite]])
    * redirects onto the quarterly view. */
  private[graft] def yearlyRevenueDef(spark: SparkSession,
      dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("yr")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("total_cents"))

  /** AGGREGATE ROLL-UP over the materialized view: the yearly revenue
    * query restated over the fact table, answered by re-aggregating
    * the quarterly view's rows (fact scan gone; the view read is
    * |quarters| rows). The serving proof that one materialized summary
    * answers a FAMILY of coarser queries, not just its own restatement
    * — at 100 TB the difference is a fact-table scan per dashboard
    * tile vs a KB-sized view read. */
  def mvRollupYear(spark: SparkSession, dir: String): DataFrame = {
    mvRewrite(spark, dir) // build + register + install, all idempotent
    yearlyRevenueDef(spark, dir)
  }

  /** Defining query of the nation-revenue view (the join-over-view
    * containment case): per-customer-nation order count + exact revenue
    * cents. Shape deliberately unique under the session-global
    * MvCatalog — the nearby shareOfParent aggregate on the same key
    * carries no count column, so the canons can never collide. */
  private[graft] def nationRevenueDef(spark: SparkSession,
      dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("total_cents"))

  /** The materialized nation-revenue view; superseded entries retire
    * before the write, as in [[MvQuarterly]]. */
  private[graft] val MvNation = graft.Indexes.Artifact("mv-nation") {
    (spark, dir, out) =>
      graft.plans.MvCatalog
        .deregisterOthers(s"nation_revenue:$dir#", nationName(dir))
      nationRevenueDef(spark, dir).write.mode("overwrite").parquet(out)
  }

  /** JOIN-OVER-VIEW REWRITE — containment step 4 (r14 verdict №6), the
    * next most common BI restatement after roll-up: the defining
    * aggregate JOINED TO DIMS (revenue-by-nation view joined to nation
    * and region for their names). The end-of-analysis injection point
    * sees the pristine Aggregate SUBTREE under the joins, the
    * structural match substitutes the view read for it, and the joins
    * above survive over the view scan — fact and customer scans gone,
    * the dim joins broadcast against a |nations|-row left side. At
    * 100 TB this is every "metrics view ⋈ dimension labels" dashboard
    * query served from the KB-sized summary. A restatement whose
    * aggregate is FINER than the view (join key not in the view
    * output) matches nothing and keeps its fact plan — MvRewriteSpec
    * pins both directions plus row parity. */
  def mvRewriteJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = MvNation.path(spark, dir)
    val mvName = nationName(dir)
    graft.plans.MvCatalog.registerIfAbsent(mvName) {
      val defDf = nationRevenueDef(spark, dir)
      val canons = Seq(defDf.queryExecution.analyzed,
        defDf.queryExecution.optimizedPlan)
      (canons, () => spark.read.parquet(path).queryExecution.analyzed)
    }
    installMvRule(spark)
    nationRevenueDef(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("n_orders"), col("total_cents"))
  }

  /** Semi join: customers having at least one order above a threshold. */
  def customersWithHighValueOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select("o_custkey")
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  /** Anti join: customers with no orders since 2001 (churned). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= to_timestamp_ntz(lit("2001-01-01")))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")

  /** ROLLUP grouping sets over returnflag × linestatus. */
  def rollupFlagStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("line_count"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))

  /** Exact distinct aggregation. */
  def distinctUsersByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("distinct_users"),
        count(lit(1)).as("event_count"))

  /** Approximate distinct (HLL) — the 100 TB path where exact distinct
    * would shuffle every key. The raw estimate is engine-specific, so
    * the oracle-checked surface asserts the HLL estimate lands within
    * its error bound of the exact count (lgK=14 → ~0.8% 1σ, bound 5% ≈
    * 6σ — deterministic: HLL register maxima are order-independent).
    *
    * Round-12 rewrite (2.2 s isolated → 0.43 s): the original shape
    * mixed `approx_count_distinct(rsd=0.01)` with `countDistinct` in
    * ONE agg, and Spark's distinct rewrite then carries the p=14
    * HLL++ buffer — ~1.6k LongType buffer attributes — through a
    * 4-stage plan keyed on (event_type, user_id), i.e. one 13 KB
    * buffer PER DISTINCT PAIR. Fix is structural, not precision-loss:
    * the sketch side runs in its own 2-stage agg using the
    * Datasketches `hll_sketch_agg` (one compact binary buffer per
    * group instead of thousands of codegen'd Long columns), the exact
    * side keeps its own distinct plan, and the |event_type|-row sketch
    * result broadcast-joins back. Same output schema, same 5% bound,
    * tighter sigma.
    */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_type", "user_id")
    val approx = ev.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
        .as("approx"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    exact.join(broadcast(approx), "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          greatest(lit(5.0), col("exact_users") * 0.05))
          .as("approx_within_5pct"))
  }

  /** Approximate percentile (KLL-style sketch) — the 100 TB path where
    * the exact sort-based percentile would shuffle every value. Like the
    * HLL query, the sketch estimate itself is engine-specific, so the
    * checked surface asserts the estimate falls inside the exact IQR —
    * deterministic because Spark's approx_percentile sketch is
    * merge-order-independent. */
  def approxPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.25)), 4).as("p25"),
        round(percentile(col("value"), lit(0.75)), 4).as("p75"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap50"))
      .select(col("event_type"), col("p25"), col("p75"),
        (col("ap50") >= col("p25") && col("ap50") <= col("p75"))
          .as("approx_in_iqr"))

  /** Exact interpolated percentiles per group. */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.25)), 4).as("p25"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.75)), 4).as("p75"))

  /** JSON extraction from the events props column. */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("event_count"),
        round(sum("value"), 2).as("total_value"))

  /** Semi-structured extraction through Spark 4's VARIANT type:
    * `parse_json` once into the binary variant encoding, then typed
    * `variant_get` paths — the open-schema ingestion shape (parse once,
    * extract many, no per-path JSON re-parse like get_json_object).
    * The oracle replays the same paths with DuckDB's JSON functions. */
  def propsVariant(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("parse_json(props)").as("v"), col("value"))
      .select(expr("variant_get(v, '$.k', 'int')").as("k"), col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("event_count"),
        min("k").as("min_k"), max("k").as("max_k"),
        round(sum("value"), 2).as("total_value"))

  /** Union of two activity sources + per-source aggregate. */
  def unionActivity(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id").as("actor_id"), lit("event").as("activity"),
        col("value").as("amount"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey").as("actor_id"), lit("order").as("activity"),
        col("o_totalprice").as("amount"))
    ev.unionByName(ord)
      .groupBy("activity")
      .agg(count(lit(1)).as("n"),
        countDistinct("actor_id").as("distinct_actors"),
        round(sum("amount"), 2).as("total_amount"))
  }

  /** Pivot / conditional aggregation: per-user-bucket value by event type. */
  def eventTypePivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    Tables.events(spark, dir)
      .withColumn("user_bucket", col("user_id") % 10)
      .groupBy("user_bucket")
      .pivot("event_type", types)
      .agg(round(sum("value"), 2))
  }

  /** Correlated scalar subquery through the SQL surface: richest
    * customer(s) of each nation. Catalyst decorrelates this into an
    * aggregate + join — no per-row subquery execution.
    */
  def topAcctbalPerNation(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_v")
    spark.sql(
      """SELECT n_name, c_custkey, c_name, c_acctbal
        |FROM customer_v c JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal = (SELECT max(c2.c_acctbal) FROM customer_v c2
        |                     WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
  }

  /** SQL PIPE syntax (Spark 4 `|>` operator chains): Q1's scan → filter
    * → extend → aggregate written as a linear pipeline instead of
    * nested SELECTs. Purely a parser surface — it lowers to the
    * identical Catalyst plan, so pushdown/codegen are untouched; the
    * row proves the engine accepts the pipe dialect a reference user
    * may have standardized on. */
  def pipeSqlStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_pipe")
    spark.sql(
      """FROM lineitem_pipe
        !|> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        !|> EXTEND CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
        !|> AGGREGATE count(*) AS n_items, sum(price_cents) AS total_cents
        !   GROUP BY l_returnflag, l_linestatus""".stripMargin('!'))
  }

  /** LISTAGG (Spark 4 `listagg(...) WITHIN GROUP (ORDER BY ...)`) —
    * the ordered string-aggregation SQL surface every report export
    * hits: per nation, its top-5 customers by exact spend concatenated
    * in rank order. The WITHIN GROUP ordering is what makes the string
    * deterministic (bare collect_list/string_agg is arrival-ordered
    * and would never replay); the top-5 cut happens BEFORE the
    * aggregation via a nation-partitioned rank window
    * (WindowGroupLimit territory), so listagg only ever sees 5 rows
    * per group. */
  def listaggExport(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_la")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_la")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_la")
    spark.sql(
      """WITH spend AS (
        |  SELECT c_nationkey, c_name,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders_la JOIN customer_la ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |top5 AS (
        |  SELECT * FROM (
        |    SELECT c_nationkey, c_name, cents,
        |           row_number() OVER (PARTITION BY c_nationkey
        |             ORDER BY cents DESC, c_name) AS rk
        |    FROM spend) WHERE rk <= 5)
        |SELECT n_name,
        |       listagg(c_name, ',')
        |         WITHIN GROUP (ORDER BY cents DESC, c_name) AS top_customers,
        |       CAST(sum(cents) AS BIGINT) AS top5_cents
        |FROM top5 JOIN nation_la ON n_nationkey = c_nationkey
        |GROUP BY n_name""".stripMargin)
  }

  /** PARAMETERIZED SQL (named parameter markers, `spark.sql(text,
    * args)`): the injection-safe prepared-statement surface — literals
    * bind as typed parameters, never string-spliced. Catalyst folds the
    * bound constants, so the plan (and the parquet pushdown) is the
    * same as with inline literals. */
  def paramSql(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_param")
    spark.sql(
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders_param
        |WHERE o_totalprice >= :minTotal
        |  AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
        |GROUP BY 1""".stripMargin,
      Map("minTotal" -> 150000, "cutoff" -> "1996-01-01 00:00:00"))
  }

  /** ORDER-TO-SHIP SLA report: per order priority, the lag between
    * order date and each line item's ship date — exact mean lag in
    * micro-days, worst case, and the ppm of items breaching a 90-day
    * SLA. The operations dashboard face of the Q4 shape (which counts
    * late-vs-commit; this profiles the fulfilment latency itself).
    * One fact⋈order equi-join (AQE build side) and one
    * map-side-combined aggregate; day arithmetic is exact datediff
    * integers, so the SLA rates hash-check. */
  def shipLag(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          to_date(col("o_orderdate")).as("ordered")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("ship"), col("ordered")).cast("long").as("lag_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum("lag_days").as("s"),
        max("lag_days").as("max_lag_days"),
        sum(when(col("lag_days") > 90, 1L).otherwise(0L)).as("n_breach"))
      .selectExpr("o_orderpriority", "n_items",
        // DECIMAL(38) wrap: s (sum of lag days) and n_breach (row count)
        // both clear int64/1e6 at 100 TB fact cardinality.
        "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 div n_items AS BIGINT)" +
          " AS mean_lag_micro_days",
        "max_lag_days",
        "CAST(CAST(n_breach AS DECIMAL(38,0)) * 1000000 div n_items" +
          " AS BIGINT) AS breach_ppm")

  /** REVENUE WATERFALL — the finance bridge decomposition of the TPC-H
    * charge formula as exact stage totals: gross extended price →
    * −discount → net revenue → +tax → final charge, every stage and
    * delta in the same 1e-6-dollar unit so the bridge ADDS UP exactly
    * (gross − discount + tax ≡ charge, provable by the hash). One
    * wide aggregate over the scan; DECIMAL(38) sums keep the e6
    * products exact past int64 at 100 TB. */
  def revenueWaterfall(spark: SparkSession, dir: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    Tables.lineitem(spark, dir)
      .agg(count(lit(1)).as("n_items"),
        sum(dec(extCents) * 10000L).as("g"),
        sum(dec(revenueE4) * 100L).as("n"),
        sum(dec(chargeE6)).as("c"))
      .selectExpr("n_items",
        "CAST(g AS DECIMAL(38,0)) AS gross_e6",
        "CAST(g - n AS DECIMAL(38,0)) AS discount_e6",
        "CAST(n AS DECIMAL(38,0)) AS net_e6",
        "CAST(c - n AS DECIMAL(38,0)) AS tax_e6",
        "CAST(c AS DECIMAL(38,0)) AS charge_e6")
      .selectExpr("n_items", "CAST(gross_e6 AS BIGINT) AS gross_e6",
        "CAST(discount_e6 AS BIGINT) AS discount_e6",
        "CAST(net_e6 AS BIGINT) AS net_e6",
        "CAST(tax_e6 AS BIGINT) AS tax_e6",
        "CAST(charge_e6 AS BIGINT) AS charge_e6")
  }

  /** SHARE-OF-PARENT hierarchical rollup: revenue by nation with its
    * exact ppm share of the REGION and of the TOTAL — the drillable
    * two-level BI report (the windowed sibling of the ROLLUP rows,
    * which emit parent rows instead of parent shares). Both share
    * windows run over the ≤|nations| post-aggregate table (bounded —
    * the known-bounded unpartitioned-window pattern), dims broadcast.
    */
  def shareOfParent(spark: SparkSession, dir: String): DataFrame = {
    val byNation = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey").agg(sum("cents").as("revenue_cents"))
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("revenue_cents"))
      // Checkpointed (r19): ≤|nations| rows; the grand total re-ran
      // the orders⋈customer join + aggregate without it.
      .localCheckpoint()
    val wRegion = Window.partitionBy("region")
    val tot = byNation.agg(sum("revenue_cents").as("grand_total"))
    byNation
      .withColumn("region_total", sum("revenue_cents").over(wRegion))
      .crossJoin(tot)
      .selectExpr("region", "nation", "revenue_cents",
        // DECIMAL(38) wrap: revenue_cents is an unbounded cents sum.
        "CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000" +
          " div region_total AS BIGINT) AS share_of_region_ppm",
        "CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000" +
          " div grand_total AS BIGINT) AS share_of_total_ppm")
  }

  /** EXECUTE IMMEDIATE (Spark 4 dynamic SQL in SQL): the statement
    * text lives in a session VARIABLE and runs with named USING
    * parameters — the migration surface for warehouse codebases that
    * assemble SQL at runtime (stored-procedure bodies, metadata-driven
    * reporting), with the same injection-safe typed binding as
    * [[paramSql]]: the text is parsed once as SQL, parameters never
    * string-splice. Plan cost is identical to the inline form —
    * Catalyst folds the bound constants before pushdown. */
  def execImmediate(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_exec")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_stmt STRING")
    spark.sql(
      """SET VAR graft_stmt =
        |  'SELECT o_orderpriority, count(*) AS n_orders,
        |          CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |            AS BIGINT) AS total_cents
        |   FROM orders_exec
        |   WHERE o_totalprice >= :minTotal
        |   GROUP BY 1'""".stripMargin)
    spark.sql("EXECUTE IMMEDIATE graft_stmt USING 200000 AS minTotal")
  }

  /** Correlated LATERAL subquery (Spark 4 `, LATERAL (...)`): per-nation
    * top-3 customers by account balance, written as the correlated
    * per-group-top-k a SQL user reaches for first. Catalyst
    * DECORRELATES it (DecorrelateInnerQuery) into a ranked join — the
    * declarative form costs the same as the window+filter rewrite, and
    * the row proves the engine accepts the dialect. DuckDB runs the
    * same LATERAL shape. */
  def lateralTopk(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_lat")
    Tables.nation(spark, dir).createOrReplaceTempView("nation_lat")
    spark.sql(
      """SELECT n.n_name, t.c_custkey, t.bal_cents
        |FROM nation_lat n,
        |LATERAL (
        |  SELECT c_custkey,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM customer_lat c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY bal_cents DESC, c_custkey LIMIT 3) t""".stripMargin)
  }

  /** Native SQL PIVOT clause: yearly revenue per return flag widened to
    * one column per flag — the reporting rotation written in the
    * engine's own PIVOT dialect instead of hand-rolled conditional
    * aggregation (row 30 keeps that form; this row pins the parser
    * surface). Lowers to the same Expand+aggregate plan. */
  def pivotNative(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_pivot")
    spark.sql(
      """SELECT * FROM (
        |  SELECT year(l_shipdate) AS yr, l_returnflag AS rf,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem_pivot)
        |PIVOT (sum(cents) AS s, count(*) AS n
        |       FOR rf IN ('A' AS a, 'N' AS nf, 'R' AS r))""".stripMargin)
  }

  /** SQL-defined UDFs (Spark 4 `CREATE FUNCTION … RETURN <expr>`): a
    * scalar cents-conversion and a CASE-tier classifier declared in
    * SQL, then used inside an aggregation. Unlike JVM/Python UDFs,
    * SQL UDFs are INLINED into the plan at analysis time — the
    * aggregate below compiles to the identical codegen'd expressions
    * as writing them out by hand, so pushdown and whole-stage codegen
    * survive. The reusable-business-logic surface with zero black-box
    * cost; the oracle replays the inlined logic. */
  def sqlUdf(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_udf")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE) " +
      "RETURNS BIGINT RETURN CAST(round(x * 100, 0) AS BIGINT)")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_tier(c BIGINT) " +
      "RETURNS STRING RETURN CASE WHEN c >= 20000000 THEN 'large' " +
      "WHEN c >= 10000000 THEN 'mid' ELSE 'small' END")
    spark.sql(
      """SELECT graft_tier(graft_cents(o_totalprice)) AS tier,
        |       count(*) AS n_orders,
        |       CAST(sum(graft_cents(o_totalprice)) AS BIGINT) AS total_cents
        |FROM orders_udf GROUP BY 1""".stripMargin)
  }

  /** SQL TABLE FUNCTION (Spark 4 `CREATE FUNCTION … RETURNS TABLE`):
    * the parameterized-view surface — a top-5-orders-per-segment
    * table function declared in SQL and invoked twice with different
    * arguments, results unioned. Like scalar SQL UDFs the body is
    * INLINED at analysis time, so each call plans as the ordinary
    * TakeOrdered-over-join it expands to (no black-box boundary, limit
    * still pushed); the oracle replays the expansion. */
  def sqlTableUdf(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_tf")
    Tables.customer(spark, dir).createOrReplaceTempView("customer_tf")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_top_orders(seg STRING)
        |RETURNS TABLE(o_orderkey BIGINT, cents BIGINT)
        |RETURN SELECT o_orderkey,
        |              CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |       FROM orders_tf JOIN customer_tf ON o_custkey = c_custkey
        |       WHERE c_mktsegment = seg
        |       ORDER BY 2 DESC, o_orderkey LIMIT 5""".stripMargin)
    spark.sql(
      """SELECT 'BUILDING' AS seg, * FROM graft_top_orders('BUILDING')
        |UNION ALL
        |SELECT 'MACHINERY', * FROM graft_top_orders('MACHINERY')"""
        .stripMargin)
  }

  /** String COLLATIONS (Spark 4 `COLLATE UTF8_LCASE`): per-manufacturer
    * distinct first-words of part names counted under binary vs
    * case-insensitive collation — the dialect-level answer to "how
    * many distinct, ignoring case" that otherwise needs lower()
    * everywhere (and that a migrating warehouse user expects the
    * engine to own). Case variation is planted deterministically
    * (upper() on odd part keys) so the two counts provably diverge;
    * the oracle replays the collation as lower(). */
  def collatedDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("part_coll")
    spark.sql(
      """SELECT p_brand,
        |       CAST(count(DISTINCT w) AS BIGINT) AS n_binary,
        |       CAST(count(DISTINCT w COLLATE UTF8_LCASE) AS BIGINT)
        |         AS n_lcase
        |FROM (SELECT p_brand,
        |             CASE WHEN p_partkey % 2 = 1
        |                  THEN upper(split(p_name, ' ')[0])
        |                  ELSE split(p_name, ' ')[0] END AS w
        |      FROM part_coll)
        |GROUP BY p_brand""".stripMargin)
  }

  /** TPC-H Q14 shape: promo revenue share — conditional aggregation over
    * a fact⋈dim join, ratio of exact integer sums (one float division).
    */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).select("p_partkey", "p_type")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= to_timestamp_ntz(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp_ntz(lit("1998-01-01")))
      .select(col("l_partkey"), revenueE4.as("rev_e4"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_e4")).otherwise(0L))
          .as("promo_e4"),
        sum("rev_e4").as("total_e4"))
      .select(
        (col("promo_e4").cast("double") / 10000.0).as("promo_revenue"),
        (col("total_e4").cast("double") / 10000.0).as("total_revenue"),
        (col("promo_e4").cast("double") / col("total_e4")).as("promo_share"))
  }

  /** TPC-H Q19 shape: disjunctive multi-attribute predicates over a
    * fact⋈dim join — the optimizer keeps them as one scan + join.
    */
  def brandSizeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), revenueE4.as("rev_e4"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
          col("l_quantity") >= 10) ||
        (col("p_brand") === "Brand#17" && col("p_size").between(10, 30) &&
          col("l_quantity") >= 20) ||
        (col("p_brand") === "Brand#21" && col("p_size").between(20, 50) &&
          col("l_quantity") >= 30))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        (sum("rev_e4").cast("double") / 10000.0).as("revenue"))
  }

  /** Exact 2-sigma anomaly gate over event values, per event type —
    * outlier iff (x − mean)² > 4·σ², evaluated WITHOUT any float mean
    * or sqrt: multiplying through by n² gives
    * `(n·x − S)² > 4·(n·Q − S²)` with S = Σx, Q = Σx² in integer
    * cents, computed in DECIMAL(38,0) (HUGEINT in the oracle) so the
    * 10²⁰-magnitude squares can't overflow int64. Two exact integer
    * aggregates + a broadcast of the 5-row stats table — the shape that
    * holds at any scale, and bit-reproducible across engines where a
    * float mean/stddev pipeline would drift. */
  def anomalousEvents(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100, 0).cast("long")
    val ev = Tables.events(spark, dir)
      .filter(col("value") > 0 && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"), cents.as("x"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // The cast must wrap each FACTOR, not the int64 product — x² alone
    // can pass Long.MaxValue (ANSI would throw, non-ANSI would wrap
    // away from the HUGEINT oracle).
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("x").as("s"),
      sum(dec(col("x")) * dec(col("x"))).as("q"))
    val dev = dec(col("n")) * dec(col("x")) - dec(col("s"))
    ev.join(broadcast(stats), "event_type")
      .filter(dev * dev >
        dec(lit(4)) * (dec(col("n")) * col("q") - dec(col("s")) * dec(col("s"))))
      .select(col("event_id"), col("event_type"), col("x").as("value_cents"),
        (dev > 0).as("is_high"))
  }

  /** Skyline (Pareto frontier) over per-part (total quantity, revenue):
    * keep parts no other part dominates (≥ in both dimensions, > in
    * one). Not a pair join — one sort by quantity with two window
    * maxima decides dominance: `max(rev)` over the strictly-higher-qty
    * RANGE frame catches (q' > q, r' ≥ r), and `max(rev)` within the
    * same-qty peer group catches (q' = q, r' > r). O(n log n) where
    * the naive formulation is an n² self-join.
    *
    * r19: the higher-qty maximum is DISTRIBUTED (the watermarkAudit
    * prefix pattern, generalized from running max over arrival to
    * running max over the qty order): the per-part table is
    * CATALOG-sized at 100 TB, so the old unpartitioned RANGE window
    * moved it through one task (the §2 scale killer the r18 verdict
    * flagged at this site). Range-partition by qty DESC (equal keys
    * land in one partition, so earlier partitions are STRICTLY
    * higher), per-partition running max over the same RANGE frame,
    * cross-partition prefix via the |partitions|-row triangular
    * broadcast, combined with `greatest` (null-skipping — matching
    * the no-higher-row-anywhere null). */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    val pa = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("revenue_cents"))
    val ranged = pa
      .repartitionByRange(Packing.derivedParts(pa, 0),
        col("sum_qty").desc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val pmax = ranged.groupBy("pid").agg(max("revenue_cents").as("pm"))
    val prior = pmax
      .join(broadcast(pmax.select(col("pid").as("bpid"), col("pm").as("bpm"))),
        col("bpid") < col("pid"), "left")
      .groupBy("pid").agg(max("bpm").as("prior_hi"))
    val higherQty = Window.partitionBy("pid").orderBy(col("sum_qty").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val sameQty = Window.partitionBy("sum_qty")
    ranged
      .join(broadcast(prior), "pid")
      .withColumn("mr_hi",
        greatest(max("revenue_cents").over(higherQty), col("prior_hi")))
      .withColumn("mr_same", max("revenue_cents").over(sameQty))
      .filter((col("mr_hi").isNull || col("mr_hi") < col("revenue_cents")) &&
        col("mr_same") <= col("revenue_cents"))
      .select("l_partkey", "sum_qty", "revenue_cents")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pareto_frontier" -> paretoFrontier,
    "q_anomalous_events" -> anomalousEvents,
    "q_top_acctbal_per_nation" -> topAcctbalPerNation,
    "q_promo_revenue_share" -> promoRevenueShare,
    "q_brand_size_revenue" -> brandSizeRevenue,
    "q_cube_events" -> ((spark, dir) =>
      Tables.events(spark, dir)
        .cube(col("event_type"), (col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 2).as("total_value"))),
    "q1_pricing_summary" -> q1PricingSummary,
    "q_pipe_sql" -> pipeSqlStats,
    "q_param_sql" -> paramSql,
    "q_listagg_export" -> listaggExport,
    "q_sql_table_udf" -> sqlTableUdf,
    "q_exec_immediate" -> execImmediate,
    "q_revenue_waterfall" -> revenueWaterfall,
    "q_share_of_parent" -> shareOfParent,
    "q_ship_lag" -> shipLag,
    "q_lateral_topk" -> lateralTopk,
    "q_pivot_native" -> pivotNative,
    "q_sql_udf" -> sqlUdf,
    "q_collated_distinct" -> collatedDistinct,
    "q3_top_orders" -> q3TopOrders,
    "q5_revenue_by_nation" -> q5RevenueByNation,
    "q_top_part_per_nation" -> topPartPerNation,
    "q_monthly_revenue" -> monthlyRevenue,
    "q_mv_rewrite" -> mvRewrite,
    "q_mv_rewrite_filtered" -> mvRewriteFiltered,
    "q_mv_rollup_year" -> mvRollupYear,
    "q_mv_rewrite_join" -> mvRewriteJoin,
    "q_customers_high_value" -> customersWithHighValueOrders,
    "q_customers_without_orders" -> customersWithoutOrders,
    "q_rollup_flag_status" -> rollupFlagStatus,
    "q_distinct_users_by_type" -> distinctUsersByType,
    "q_approx_distinct_users" -> approxDistinctUsers,
    "q_approx_percentile" -> approxPercentile,
    "q_big_orders" -> bigOrders,
    "q_volume_shipping" -> volumeShipping,
    "q_waiting_suppliers" -> waitingSuppliers,
    "q_order_count_histogram" -> orderCountHistogram,
    "q_significant_parts" -> significantParts,
    "q_small_qty_revenue" -> smallQtyRevenue,
    "q_idle_rich_customers" -> idleRichCustomers,
    "q_priority_late_orders" -> priorityLateOrders,
    "q_market_share" -> marketShare,
    "q_product_profit" -> productProfit,
    "q_dominant_suppliers" -> dominantSuppliers,
    "q_forecast_revenue" -> forecastRevenue,
    "q_cheapest_supplier" -> cheapestSupplierPerPart,
    "q_top_supplier_revenue" -> topSupplierRevenue,
    "q_returned_item_loss" -> returnedItemLoss,
    "q_supplier_diversity" -> supplierDiversity,
    "q_value_percentiles" -> valuePercentiles,
    "q_props_extract" -> propsExtract,
    "q_props_variant" -> propsVariant,
    "q_union_activity" -> unionActivity,
    "q_event_type_pivot" -> eventTypePivot)

  val oracles: Map[String, String] = Map(
    "q_pareto_frontier" ->
      """WITH pa AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT *,
        |         max(revenue_cents) OVER (ORDER BY sum_qty DESC
        |           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mr_hi,
        |         max(revenue_cents) OVER (PARTITION BY sum_qty) AS mr_same
        |  FROM pa)
        |SELECT l_partkey, sum_qty, revenue_cents FROM w
        |WHERE (mr_hi IS NULL OR mr_hi < revenue_cents)
        |  AND mr_same <= revenue_cents""".stripMargin,
    // Same n²-scaled inequality in HUGEINT — no float mean, no sqrt.
    "q_anomalous_events" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS x
        |  FROM events WHERE value > 0 AND event_type IS NOT NULL),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(x) AS BIGINT) AS s,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        |  FROM e GROUP BY 1)
        |SELECT event_id, e.event_type, x AS value_cents,
        |       (CAST(n AS HUGEINT) * x - s) > 0 AS is_high
        |FROM e JOIN st USING (event_type)
        |WHERE (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s) >
        |      4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)""".stripMargin,
    "q_dominant_suppliers" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%blue%'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS pp_key,
        |              CAST(sum(supp_qty) AS BIGINT) AS part_qty
        |       FROM ps GROUP BY 1),
        |dom AS (SELECT DISTINCT l_suppkey
        |        FROM ps JOIN pt ON l_partkey = pp_key
        |        WHERE supp_qty * 20 > part_qty * 3)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dom)""".stripMargin,
    "q_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |       CAST(CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
         |                     THEN $revenueE4Sql ELSE 0 END) AS BIGINT) AS DOUBLE)
         |       / CAST(CAST(sum($revenueE4Sql) AS BIGINT) AS DOUBLE) AS mkt_share,
         |       CAST(CAST(sum($revenueE4Sql) AS BIGINT) AS DOUBLE) / 10000.0
         |         AS market_revenue
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer
         |  JOIN nation nc ON c_nationkey = nc.n_nationkey
         |  JOIN region ON nc.n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA')
         |GROUP BY 1""".stripMargin,
    "q_product_profit" ->
      s"""SELECT n_name AS nation,
         |       CAST(year(o_orderdate) AS INT) AS o_year,
         |       CAST(CAST(sum($revenueE4Sql
         |           - CAST(l_quantity AS BIGINT)
         |             * CAST(round(p_retailprice * 100, 0) AS BIGINT) * 100)
         |         AS BIGINT) AS DOUBLE) / 10000.0 AS profit
         |FROM lineitem
         |JOIN part     ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2""".stripMargin,
    "q_priority_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 1400 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q_forecast_revenue" ->
      """SELECT CAST(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |         CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS DOUBLE) / 10000.0 AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_cheapest_supplier" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS offer_cents
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (
        |  SELECT l_partkey AS bp_partkey, min(offer_cents) AS best_cents
        |  FROM offers GROUP BY 1)
        |SELECT o.l_partkey, s_name, n_name,
        |       CAST(o.offer_cents AS DOUBLE) / 100.0 AS best_price
        |FROM offers o
        |JOIN best b ON o.l_partkey = b.bp_partkey AND o.offer_cents = b.best_cents
        |JOIN supplier ON o.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey""".stripMargin,
    "q_top_supplier_revenue" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(sum($revenueE4Sql) AS BIGINT) AS total_rev_e4
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name,
         |       CAST(total_rev_e4 AS DOUBLE) / 10000.0 AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)""".stripMargin,
    "q_returned_item_loss" ->
      s"""SELECT c_custkey, c_name, c_mktsegment,
         |       CAST(CAST(sum($revenueE4Sql) AS BIGINT) AS DOUBLE) / 10000.0
         |         AS returned_revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY 1, 2, 3
         |ORDER BY returned_revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "q_supplier_diversity" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2""".stripMargin,
    "q_order_count_histogram" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey) cc
        |GROUP BY c_count""".stripMargin,
    "q_significant_parts" ->
      s"""SELECT l_partkey,
         |       CAST(CAST(sum($revenueE4Sql) AS BIGINT) AS DOUBLE) / 10000.0
         |         AS part_revenue
         |FROM lineitem
         |GROUP BY l_partkey
         |HAVING CAST(sum($revenueE4Sql) AS BIGINT) * 2000 >
         |       (SELECT CAST(sum($revenueE4Sql) AS BIGINT) FROM lineitem)"""
        .stripMargin,
    "q_small_qty_revenue" ->
      """WITH pp AS (
        |  SELECT l_partkey AS pp_partkey,
        |         CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS sum_qty_e2,
        |         count(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |         AS BIGINT) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
        |FROM lineitem JOIN pp ON l_partkey = pp_partkey
        |WHERE CAST(round(l_quantity * 100, 0) AS BIGINT) * 2 * n_lines < sum_qty_e2"""
        .stripMargin,
    "q_idle_rich_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM customer),
        |t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_pos,
        |             count(*) AS n_pos
        |      FROM c WHERE bal_cents > 0)
        |SELECT cntrycode, count(*) AS numcust,
        |       CAST(CAST(sum(bal_cents) AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
        |FROM c CROSS JOIN t
        |WHERE bal_cents * n_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY cntrycode""".stripMargin,
    "q_waiting_suppliers" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 1400 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, count(*) AS numwait
        |FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM l l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    "q_volume_shipping" ->
      s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         |       CAST(year(l_shipdate) AS INT) AS ship_year,
         |       count(*) AS n_lines,
         |       CAST(sum($revenueE4Sql) AS DOUBLE) / 10000.0 AS volume
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
         |   OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3')
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_big_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS order_year,
        |       round(o_totalprice, 2) AS total_price,
        |       CAST(s.sum_qty AS BIGINT) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS BIGINT)) > 200) s
        |  ON o_orderkey = s.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q_approx_percentile" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 4) AS p25,
        |       round(quantile_cont(value, 0.75), 4) AS p75,
        |       TRUE AS approx_in_iqr
        |FROM events GROUP BY event_type""".stripMargin,
    "q_approx_distinct_users" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_users,
        |       TRUE AS approx_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,
    "q_cube_events" ->
      """SELECT event_type, user_id % 10 AS user_bucket,
        |       count(*) AS n,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY CUBE (event_type, user_id % 10)""".stripMargin,
    "q_promo_revenue_share" ->
      s"""SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueE4Sql ELSE 0 END) AS DOUBLE) / 10000.0 AS promo_revenue,
         |       CAST(sum($revenueE4Sql) AS DOUBLE) / 10000.0 AS total_revenue,
         |       CAST(sum(CASE WHEN p_type = 'PROMO' THEN $revenueE4Sql ELSE 0 END) AS DOUBLE)
         |         / sum($revenueE4Sql) AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,
    "q_brand_size_revenue" ->
      s"""SELECT p_brand, count(*) AS n_lines,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       CAST(sum($revenueE4Sql) AS DOUBLE) / 10000.0 AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
         |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
         |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
         |GROUP BY p_brand""".stripMargin,
    "q_top_acctbal_per_nation" ->
      """SELECT n_name, c_custkey, c_name, c_acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal = (SELECT max(c2.c_acctbal) FROM customer c2
        |                     WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
         |       CAST(sum($revenueE4Sql) AS DOUBLE) / 10000.0 AS sum_disc_price,
         |       CAST(sum($chargeE6Sql) AS DOUBLE) / 1000000.0 AS sum_charge,
         |       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
         |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
         |       count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // Pipe syntax is Spark-side only; the oracle is the plain form.
    "q_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    // SQL UDFs replayed inlined (the definition IS the logic).
    "q_sql_udf" ->
      """SELECT CASE WHEN CAST(round(o_totalprice * 100, 0) AS BIGINT) >= 20000000
        |            THEN 'large'
        |            WHEN CAST(round(o_totalprice * 100, 0) AS BIGINT) >= 10000000
        |            THEN 'mid' ELSE 'small' END AS tier,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders GROUP BY 1""".stripMargin,
    // The UTF8_LCASE collation replayed as lower().
    "q_collated_distinct" ->
      """SELECT p_brand,
        |       CAST(count(DISTINCT w) AS BIGINT) AS n_binary,
        |       CAST(count(DISTINCT lower(w)) AS BIGINT) AS n_lcase
        |FROM (SELECT p_brand,
        |             CASE WHEN p_partkey % 2 = 1
        |                  THEN upper(split_part(p_name, ' ', 1))
        |                  ELSE split_part(p_name, ' ', 1) END AS w
        |      FROM part)
        |GROUP BY p_brand""".stripMargin,
    // The same LATERAL shape, DuckDB dialect-identical.
    "q_lateral_topk" ->
      """SELECT n.n_name, t.c_custkey, t.bal_cents
        |FROM nation n,
        |LATERAL (
        |  SELECT c_custkey,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY bal_cents DESC, c_custkey LIMIT 3) t""".stripMargin,
    // The PIVOT clause replayed as conditional aggregation (DuckDB's
    // PIVOT dialect differs; the result table is what must match).
    "q_pivot_native" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS yr,
        |       CAST(sum(CASE WHEN l_returnflag = 'A'
        |           THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END)
        |         AS BIGINT) AS a_s,
        |       CAST(count(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS a_n,
        |       CAST(sum(CASE WHEN l_returnflag = 'N'
        |           THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END)
        |         AS BIGINT) AS nf_s,
        |       CAST(count(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS nf_n,
        |       CAST(sum(CASE WHEN l_returnflag = 'R'
        |           THEN CAST(round(l_extendedprice * 100, 0) AS BIGINT) END)
        |         AS BIGINT) AS r_s,
        |       CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS r_n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_ship_lag" ->
      """WITH j AS (
        |  SELECT o.o_orderpriority,
        |         date_diff('day', CAST(o.o_orderdate AS DATE),
        |                   CAST(l.l_shipdate AS DATE)) AS lag_days
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(lag_days) * 1000000 // count(*) AS BIGINT)
        |         AS mean_lag_micro_days,
        |       CAST(max(lag_days) AS BIGINT) AS max_lag_days,
        |       CAST(sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END)
        |         * 1000000 // count(*) AS BIGINT) AS breach_ppm
        |FROM j GROUP BY 1""".stripMargin,
    "q_revenue_waterfall" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_items,
         |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT)
         |         * 10000) AS BIGINT) AS gross_e6,
         |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT)
         |         * 10000) - sum(CAST($revenueE4Sql AS HUGEINT) * 100)
         |         AS BIGINT) AS discount_e6,
         |       CAST(sum(CAST($revenueE4Sql AS HUGEINT) * 100) AS BIGINT)
         |         AS net_e6,
         |       CAST(sum(CAST($chargeE6Sql AS HUGEINT))
         |         - sum(CAST($revenueE4Sql AS HUGEINT) * 100) AS BIGINT)
         |         AS tax_e6,
         |       CAST(sum(CAST($chargeE6Sql AS HUGEINT)) AS BIGINT)
         |         AS charge_e6
         |FROM lineitem""".stripMargin,
    "q_share_of_parent" ->
      """WITH bn AS (
        |  SELECT r.r_name AS region, n.n_name AS nation,
        |         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS revenue_cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS grand_total
        |      FROM bn)
        |SELECT region, nation, revenue_cents,
        |       CAST(CAST(revenue_cents AS HUGEINT) * 1000000
        |         // (sum(revenue_cents) OVER (PARTITION BY region))
        |         AS BIGINT) AS share_of_region_ppm,
        |       CAST(CAST(revenue_cents AS HUGEINT) * 1000000
        |         // grand_total AS BIGINT) AS share_of_total_ppm
        |FROM bn CROSS JOIN t""".stripMargin,
    // The dynamically-executed statement replayed as plain SQL.
    "q_exec_immediate" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders
        |WHERE o_totalprice >= 200000
        |GROUP BY 1""".stripMargin,
    // Bound parameters replayed as folded literals.
    "q_sql_table_udf" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment AS seg, o_orderkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY round(o_totalprice * 100, 0) DESC, o_orderkey)
        |           AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
        |SELECT seg, o_orderkey, cents FROM ranked WHERE rk <= 5""".stripMargin,
    "q_listagg_export" ->
      """WITH spend AS (
        |  SELECT c_nationkey, c_name,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |top5 AS (
        |  SELECT * FROM (
        |    SELECT c_nationkey, c_name, cents,
        |           row_number() OVER (PARTITION BY c_nationkey
        |             ORDER BY cents DESC, c_name) AS rk
        |    FROM spend) t WHERE rk <= 5)
        |SELECT n_name,
        |       string_agg(c_name, ',' ORDER BY cents DESC, c_name)
        |         AS top_customers,
        |       CAST(sum(cents) AS BIGINT) AS top5_cents
        |FROM top5 JOIN nation ON n_nationkey = c_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_param_sql" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders
        |WHERE o_totalprice >= 150000
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q3_top_orders" ->
      s"""SELECT l_orderkey,
         |       CAST(sum($revenueE4Sql) AS DOUBLE) / 10000.0 AS revenue,
         |       CAST(year(any_value(o_orderdate)) AS INT) AS order_year
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_revenue_by_nation" ->
      s"""SELECT n_name,
         |       CAST(sum($revenueE4Sql) AS DOUBLE) / 10000.0 AS revenue,
         |       count(*) AS lineitem_count
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name""".stripMargin,
    "q_top_part_per_nation" ->
      s"""WITH per_part AS (
         |  SELECT n_name, l_partkey, sum($revenueE4Sql) AS rev_e4
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY n_name, l_partkey)
         |SELECT n_name, l_partkey,
         |       CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue, CAST(part_rank_big AS INT) AS part_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY n_name
         |        ORDER BY rev_e4 DESC, l_partkey) AS part_rank_big
         |      FROM per_part) ranked
         |WHERE part_rank_big <= 3""".stripMargin,
    "q_monthly_revenue" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
        |       CAST(month(o_orderdate) AS INT) AS order_month,
        |       count(*) AS order_count,
        |       round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_mv_rewrite" ->
      """SELECT ((year(o_orderdate) - 1992) * 4 + quarter(o_orderdate) - 1)
        |         AS qtr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |         AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1""".stripMargin,
    "q_mv_rollup_year" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |         AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1""".stripMargin,
    "q_mv_rewrite_filtered" ->
      """SELECT ((year(o_orderdate) - 1992) * 4 + quarter(o_orderdate) - 1)
        |         AS qtr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |         AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1
        |HAVING ((year(o_orderdate) - 1992) * 4 + quarter(o_orderdate) - 1)
        |         >= 8""".stripMargin,
    "q_mv_rewrite_join" ->
      """SELECT r_name AS region, n_name AS nation,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |         AS BIGINT) AS total_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q_customers_high_value" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,
    "q_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')""".stripMargin,
    "q_rollup_flag_status" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS line_count,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_distinct_users_by_type" ->
      """SELECT event_type,
        |       count(DISTINCT user_id) AS distinct_users,
        |       count(*) AS event_count
        |FROM events GROUP BY event_type""".stripMargin,
    "q_value_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 4) AS p25,
        |       round(quantile_cont(value, 0.50), 4) AS p50,
        |       round(quantile_cont(value, 0.75), 4) AS p75
        |FROM events GROUP BY event_type""".stripMargin,
    "q_props_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |       count(*) AS event_count,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_props_variant" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
        |       count(*) AS event_count,
        |       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_union_activity" ->
      """WITH unioned AS (
        |  SELECT user_id AS actor_id, 'event' AS activity, value AS amount FROM events
        |  UNION ALL
        |  SELECT o_custkey, 'order', o_totalprice FROM orders)
        |SELECT activity, count(*) AS n,
        |       count(DISTINCT actor_id) AS distinct_actors,
        |       round(sum(amount), 2) AS total_amount
        |FROM unioned GROUP BY activity""".stripMargin,
    "q_event_type_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        |       round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |       round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |       round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
        |FROM events GROUP BY 1""".stripMargin)
}
