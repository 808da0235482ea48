package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Shingles

/** Round-2 breadth operators: the analytic-function suite, set
  * operations, banded time-range join, embedding quantization, corpus
  * n-gram statistics, and text sink/source round-trips (CSV, JSON).
  *
  * Determinism: every window has a unique-key tiebreak; every float
  * output is either an exact integer-derived value or a single IEEE
  * operation on identical inputs in both engines (SURVEY.md §5).
  */
object Analytics {

  /** Analytic-function suite over the per-customer order history:
    * row_number (sequence), lag (days since previous order), ntile
    * (spend quartile), percent_rank / cume_dist (spend position).
    * One shuffle on o_custkey; both windows share the partitioning, so
    * Catalyst plans a single exchange.
    */
  def orderCadence(spark: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val bySpend = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("order_seq", row_number().over(byDate))
      .withColumn("days_since_prev",
        datediff(col("o_orderdate"), lag("o_orderdate", 1).over(byDate)))
      .withColumn("spend_quartile", ntile(4).over(bySpend))
      .withColumn("spend_pct_rank", percent_rank().over(bySpend))
      .withColumn("spend_cume_dist", cume_dist().over(bySpend))
      .select("o_custkey", "o_orderkey", "order_seq", "days_since_prev",
        "spend_quartile", "spend_pct_rank", "spend_cume_dist")
  }

  /** Set operations: INTERSECT / EXCEPT over yearly active customer
    * sets. Spark plans these as aggregates + joins; both inputs
    * pre-aggregate to distinct keys so the shuffles carry one row per
    * customer. */
  def customerSetOps(spark: SparkSession, dir: String): DataFrame = {
    def activeIn(y: Int): DataFrame =
      Tables.orders(spark, dir)
        .filter(year(col("o_orderdate")) === y)
        .select("o_custkey").distinct()
    // Each set feeds two set operations; materialized once, the orders
    // scan runs twice (once per year) instead of four times.
    val a = activeIn(1995).localCheckpoint()
    val b = activeIn(1996).localCheckpoint()
    a.intersect(b).withColumn("op", lit("both"))
      .unionAll(a.except(b).withColumn("op", lit("only_1995")))
      .unionAll(b.except(a).withColumn("op", lit("only_1996")))
      .select("op", "o_custkey")
  }

  /** Banded time-range join: for each purchase, the error events within
    * ±60 s of it — the classic bucketize-and-verify range join. Each
    * error lands in its minute bucket and the two neighbours, the join
    * is a plain equi-join on the bucket (shuffle-partitionable, no n²),
    * and the exact |Δt| ≤ 60 s predicate filters the candidates. The
    * oracle runs the naive theta join; DuckDB's IEJoin handles it at
    * oracle scale.
    */
  def timeRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val SlackNs = 60000000000L // 60 s
    val ev = Tables.events(spark, dir)
    // Exact integer division for the bucket: long/long `/` promotes to
    // double, whose ~128 ns ULP at epoch-nano magnitudes could shift a
    // boundary bucket and drop a true pair before the exact filter runs.
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
        expr(s"ts div $SlackNs").as("bucket"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("e_ts"))
      .withColumn("b0", expr(s"e_ts div $SlackNs"))
      .select(col("err_id"), col("e_ts"),
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("bucket"))
    purchases.join(errors, "bucket")
      .filter(abs(col("p_ts") - col("e_ts")) <= SlackNs)
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_nearby_errors"),
        expr("min(abs(p_ts - e_ts)) div 1000000000").as("closest_gap_s"))
  }

  /** Int8 scalar quantization of the embedding column — the storage-
    * compression pass of a 100 TB vector corpus (4× smaller, cosine
    * preserved to ~1e-2). Per vector: scale = 127/max|x|, code_i =
    * floor(x_i·scale + 0.5). Emits summary stats of the code vector so
    * the oracle hash-checks the exact quantization. floor(v + 0.5) is
    * used instead of round() because both engines define floor
    * identically (round's half-case tie-breaking differs). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val absMax = greatest(
      aggregate(col("embedding"), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast("double")))),
      lit(1e-30))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), (lit(127.0) / absMax).as("scale"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale_r6"),
        aggregate(col("embedding"), lit(0L),
          (acc, x) => acc + floor(x.cast("double") * col("scale") + lit(0.5)))
          .as("code_sum"),
        aggregate(col("embedding"), lit(127L),
          (acc, x) => least(acc, floor(x.cast("double") * col("scale") + lit(0.5))))
          .as("code_min"),
        aggregate(col("embedding"), lit(-127L),
          (acc, x) => greatest(acc, floor(x.cast("double") * col("scale") + lit(0.5))))
          .as("code_max"))
  }

  /** Per-DIMENSION embedding NORMALIZATION statistics — the z-score
    * vector (mean, variance) a feature pipeline computes once and
    * applies at serve time (whitening before ANN / linear probes).
    * Components are quantized to exact integer micro-units first
    * (`round(x·10⁶)`), so the per-dim sums, the mean, and the exact
    * variance NUMERATOR n·Σq² − (Σq)² are bit-reproducible — float
    * partial-sum merge order can never change the result (the same
    * discipline as the 2-sigma anomaly gate, DECIMAL(38)/HUGEINT for
    * the squares).
    *
    * Plan/scale shape: one posexplode + partial+final HashAggregate
    * keyed on the dimension index — |dims| output rows at any corpus
    * size, map-side-combined, no shuffle wider than dims × tasks. */
  def embedNormStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)").as("q"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("q").as("sum_q"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sum_q2d"))
      .select(col("pos").cast("long").as("pos"), col("n"), col("sum_q"),
        col("sum_q2d").cast("long").as("sum_q2"),
        // Sign/abs split: Spark div truncates, DuckDB // floors — they
        // only agree on non-negative operands, and per-dim sums go
        // negative.
        expr("CASE WHEN sum_q < 0 THEN -((-sum_q) div n) " +
          "ELSE sum_q div n END").as("mean_micro"),
        // Exact sample-variance in micro² units: the numerator
        // n·Σq² − (Σq)² needs DECIMAL(38) (n·Σq² overflows BIGINT);
        // the quotient over n(n−1) is BIGINT-sized and non-negative.
        expr("CAST((n * sum_q2d - CAST(sum_q AS DECIMAL(38,0)) * sum_q) " +
          "div (n * (n - 1)) AS BIGINT)").as("var_micro2"))

  /** Corpus bigram statistics via the custom `shingles(text, 2)`
    * expression: document frequency of every distinct-in-doc bigram,
    * top 20. Spark 4's WindowGroupLimit turns the rank filter into a
    * per-partition top-k, so the unpartitioned window only ever sees
    * 20 rows per upstream partition. */
  def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("df").desc, col("bigram"))
    Tables.documents(spark, dir)
      .select(explode(Shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
  }

  /** CDC compaction: the latest event per (user, event_type) — the
    * keep-newest-version pass every change-capture ingest runs before
    * serving. Window + rank-1 filter; Spark's WindowGroupLimit turns it
    * into a per-partition top-1 so the shuffle carries only survivors
    * upward. Tie on ts broken by event_id (latest id wins). */
  def latestEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts div 1000000000").as("ts_s"),
        round(col("value"), 2).as("value"))
  }

  /** SCD2 historization: each event's value holds from its own time
    * until the user's next event — the effective-range form used to
    * join facts "as of" a dimension version. One shuffle on user_id;
    * `lead` closes each range, the current row stays open (null). */
  def scd2Ranges(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("next_ts", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000000000").as("valid_from_s"),
        expr("next_ts div 1000000000").as("valid_to_s"))
  }

  /** SCD2 AS-OF LOOKUP — the serving half of [[scd2Ranges]] (building
    * effective ranges is pointless until something reads them): each
    * user's version valid at a fixed instant (the event-span midpoint,
    * derived from the data so the probe is deterministic), by range
    * containment valid_from ≤ t < valid_to with the open current row
    * as +∞. Zero-length versions (same-second ties, closed by the
    * next version) can never contain t, so the answer is unique per
    * user by construction. At 100 TB the same lookup rides the native
    * as-of join (30b2) against the range table; this is the SCD2
    * face of it. */
  def scd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.events(spark, dir)
      .agg(expr("(min(ts) + max(ts)) div 2 div 1000000000").as("asof_s"))
    scd2Ranges(spark, dir)
      .crossJoin(t)
      .filter(col("valid_from_s") <= col("asof_s") &&
        (col("valid_to_s").isNull || col("valid_to_s") > col("asof_s")))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from_s"), col("asof_s"))
  }

  /** SNAPSHOT DIFF — the inverse of [[mergeUpsert]]'s CDC-apply: given
    * two versions of a dimension, emit the change feed summary
    * (inserted / deleted / updated / unchanged, plus per-column change
    * counts). The lakehouse "what changed between snapshots" pass that
    * feeds IVM deltas, replication, and audit. Version 2 is derived
    * deterministically from version 1 (the [[mergeUpsert]]
    * discipline): every 7th key's balance moves, every 11th key is
    * dropped, every 13th key is re-keyed as an insert — so both
    * engines replay the identical diff. The diff itself is ONE
    * full-outer hash join on the key with a pure-projection
    * classifier; at scale both sides are snapshot scans and the join
    * shuffles on the key, no ordering needed. */
  private def customerV1(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey").cast("long").as("k"),
        expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("cents"),
        col("c_mktsegment").as("seg"))

  private def customerV2(v1: DataFrame): DataFrame =
    v1.filter(col("k") % 11 =!= 5)
      .select(col("k"),
        when(col("k") % 7 === 3, col("cents") + 1000)
          .otherwise(col("cents")).as("cents"), col("seg"))
      .unionByName(v1.filter(col("k") % 13 === 2)
        .select((col("k") + 1000000L).as("k"), col("cents"), col("seg")))

  private def diffSnapshots(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.as("a").join(v2.as("b"), col("a.k") === col("b.k"), "full_outer")
      .select(
        when(col("a.k").isNull, "inserted")
          .when(col("b.k").isNull, "deleted")
          .when(col("a.cents") =!= col("b.cents") ||
            col("a.seg") =!= col("b.seg"), "updated")
          .otherwise("unchanged").as("status"),
        when(col("a.k").isNotNull && col("b.k").isNotNull &&
          col("a.cents") =!= col("b.cents"), 1L).otherwise(0L)
          .as("bal_chg"),
        when(col("a.k").isNotNull && col("b.k").isNotNull &&
          col("a.seg") =!= col("b.seg"), 1L).otherwise(0L)
          .as("seg_chg"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum("bal_chg").as("n_balance_changed"),
        sum("seg_chg").as("n_segment_changed"))

  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = customerV1(spark, dir)
    diffSnapshots(v1, customerV2(v1))
  }

  /** Per-corpus snapshot catalog of the customer dimension: versions 1
    * and 2 (the [[snapshotDiff]] derivation) PUBLISHED as parquet under
    * a versioned root ([[graft.sources.SnapshotCatalog]]), built once
    * per corpus fingerprint like every persisted index. */
  private[graft] val CustomerSnapshots = graft.Indexes.Artifact("snapshots") {
    (spark, dir, out) =>
      val v1 = customerV1(spark, dir)
      graft.sources.SnapshotCatalog.publish(v1, out)
      graft.sources.SnapshotCatalog.publish(customerV2(v1), out)
  }

  /** TIME TRAVEL — the read face of the snapshot surface: the SAME diff
    * as [[snapshotDiff]], but both versions come from the snapshot
    * CATALOG (as-of-version reads resolving version numbers to sealed,
    * fingerprint-verified parquet snapshots) instead of in-plan
    * derivation. Hash-matching q_snapshot_diff's oracle proves the
    * catalog round-trip (publish → resolve → scan) byte-preserves the
    * dimension; the version-resolution contract itself (unknown
    * version, mutated snapshot, in-flight publish all refuse loudly)
    * is pinned in SnapshotCatalogSpec. At 100 TB this seam is the
    * table-format snapshot log; reads cost one meta file + one listing
    * before the scan. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = CustomerSnapshots.path(spark, dir)
    diffSnapshots(
      graft.sources.SnapshotCatalog.readAsOf(spark, root, 1),
      graft.sources.SnapshotCatalog.readAsOf(spark, root, 2))
  }

  /** First-order Markov transition matrix of user behaviour: for each
    * consecutive pair of events per user (event-time order, event_id
    * tiebreak), count (prev_type → event_type) and its conditional
    * probability — the session-model / next-event-prediction statistic.
    * One shuffle on user_id for the lag, one aggregate on the 25-cell
    * transition key; the probability is a single division of exact
    * counts. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val withPrev = Tables.events(spark, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
    val wp = Window.partitionBy("prev_type")
    withPrev
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("prob",
        col("n_trans").cast("double") / sum("n_trans").over(wp))
  }

  /** UNPIVOT / melt: the wide-to-long reshape (per-flag metric columns
    * → (metric, value) rows) — how a fixed-schema metrics table feeds a
    * generic (name, value) sink. The wide aggregate is the usual
    * partial+final hash agg; the unpivot itself is an Expand (3 rows
    * per input row, no shuffle). All metrics in exact BIGINT. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("long")).as("qty_sum"),
        count(lit(1)).as("n_items"),
        sum(cents).as("revenue_cents"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty_sum"), col("n_items"), col("revenue_cents")),
        "metric", "value")
  }

  /** Explicit GROUPING SETS — ((returnflag), (linestatus)) is NOT a
    * rollup/cube prefix, so this exercises the general grouping-sets
    * path plus grouping_id(), through the SQL surface. One expand +
    * one aggregate; the expand doubles rows before the shuffle, which
    * is the expected cost of multi-set grouping at scale. */
  def groupingSetsStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
  }

  /** RANGE-frame window (vs the ROWS frames elsewhere): per customer,
    * trailing-90-day spend at each order. The frame is value-based —
    * same-day orders share the identical frame, which a ROWS frame
    * cannot express. Ordering key is an integer day number; sums are
    * exact cents. */
  def trailingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("day_num"))
      .rangeBetween(-89, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("long").as("day_num"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
      .withColumn("trailing_90d_cents", sum("price_cents").over(w))
      .select("o_custkey", "o_orderkey", "day_num", "trailing_90d_cents")
  }

  /** RECENCY-DECAYED revenue leaderboard: per event type, event value
    * weighted by a half-life decay — weight halves every 7 days of age
    * relative to the newest event — the freshness-weighted ranking a
    * trending/leaderboard surface reads instead of the all-time sum.
    * The half-life is a POWER OF TWO in integer cents: decayed =
    * cents >> (age div 7d), an exact bit shift both engines replay
    * digit-for-digit, where a float exp(−λ·age) would never
    * hash-check. Ages ≥ 63 half-lives clamp to zero explicitly —
    * Java's `>>` masks the shift count to 6 bits, so an unguarded
    * shiftright would silently wrap to a NO-op on data older than 63
    * half-lives (a real hazard on multi-year corpora). Assumes
    * non-negative cents (event values are prices): on negatives the
    * arithmetic shift FLOORS while DuckDB's `//` truncates toward
    * zero — the usual sign/abs-split discipline would apply.
    *
    * Plan: one scan + broadcast 1-row max-ts + one partial+final
    * HashAggregate; the share column is a second broadcast of the
    * |event types|-row totals. Linear, shuffle = |types| rows. */
  def decayedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val halfLifeNs = 7L * 86400L * 1000000000L
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"), col("ts"))
    val mx = e.agg(max("ts").as("mx"))
    val g = e.crossJoin(mx)
      .selectExpr("event_type", "cents",
        s"CAST((mx - ts) div ${halfLifeNs}L AS INT) AS k")
      .selectExpr("event_type", "cents",
        "CASE WHEN k >= 63 THEN 0L ELSE shiftright(cents, k) END" +
          " AS dec_cents")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("raw_cents"),
        sum("dec_cents").as("decayed_cents"))
    val tot = g.agg(sum("decayed_cents").as("td"))
    g.crossJoin(tot)
      .selectExpr("event_type", "n_events", "raw_cents", "decayed_cents",
        // DECIMAL(38) wrap before the e6 multiply (round-10 advice):
        // decayed_cents is an unbounded sum of cents — raw BIGINT*1e6
        // overflows int64 well below 100 TB corpus revenue.
        "CAST(CAST(decayed_cents AS DECIMAL(38,0)) * 1000000 div td" +
          " AS BIGINT) AS decayed_share_ppm")
  }

  // Keyed by an md5 of the full data-dir path (collision-resistant,
  // unlike String.hashCode) under java.io.tmpdir (portable, unlike a
  // hardcoded repo path). Deterministic per dir so the concurrent
  // Verify runs each (kind, dir) pair against a stable location.
  private def roundtripDir(kind: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new java.io.File(
      new java.io.File(sys.props("java.io.tmpdir"), "graft-roundtrip"),
      s"${kind}_$digest").getPath
  }

  /** CSV sink→source round-trip: write the customer balance ledger as
    * CSV (exact integer cents, so the text format is lossless), read it
    * back with an explicit schema, aggregate. The oracle aggregates the
    * original parquet — hash equality proves the round-trip is
    * bit-faithful. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("csv", dir)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100, 0).cast("long").as("acctbal_cents"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("c_custkey LONG, c_mktsegment STRING, acctbal_cents LONG")
      .option("header", "true").csv(out)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum("acctbal_cents").as("total_cents"))
  }

  /** JSON (lines) sink→source round-trip over the event stream, same
    * lossless-integer contract as the CSV pass. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("json", dir)
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("value_cents"))
      .write.mode("overwrite").json(out)
    spark.read
      .schema("event_id LONG, event_type STRING, value_cents LONG")
      .json(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("value_cents").as("total_cents"))
  }

  /** ORC sink→source round-trip over the order lines: columnar-to-
    * columnar interchange (ORC ships in Spark's default distribution —
    * the other lake format next to parquet), exact integer cents, with
    * a predicate on the re-read side so the scan exercises ORC's
    * predicate pushdown path too. The oracle aggregates the original
    * parquet — hash equality proves losslessness. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("orc", dir)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"),
        col("l_quantity"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .filter(col("l_quantity") >= 25)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum("price_cents").as("total_cents"))
  }

  /** XML sink→source round-trip (Spark 4 built-in XML source): the part
    * catalog written as `<part>` row elements, read back with an
    * explicit schema, aggregated. Same lossless-integer contract as the
    * CSV/JSON/ORC passes — hash equality against the parquet oracle
    * proves the XML encode/decode is bit-faithful. */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("xml", dir)
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"),
        round(col("p_retailprice") * 100, 0).cast("long").as("price_cents"))
      .write.mode("overwrite").option("rowTag", "part").format("xml").save(out)
    spark.read
      .schema("p_partkey LONG, p_brand STRING, price_cents LONG")
      .option("rowTag", "part").format("xml").load(out)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"), sum("price_cents").as("total_cents"))
  }

  /** Schema-drift ingestion: two parquet batches written with DIFFERENT
    * schemas (the second adds `price_cents`), read back as ONE table
    * with `mergeSchema` — the additive-evolution path a long-lived
    * corpus directory takes (old shards never rewritten; missing
    * columns surface as NULLs). The oracle reproduces the union from
    * the original table, proving the merged read loses nothing. */
  def schemaMergeRead(spark: SparkSession, dir: String): DataFrame = {
    val out = roundtripDir("schemamerge", dir)
    val orders = Tables.orders(spark, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite").parquet(s"$out/batch=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
      .write.mode("overwrite").parquet(s"$out/batch=2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy("batch")
      .agg(count(lit(1)).as("n_orders"),
        count(col("price_cents")).as("n_priced"),
        sum(coalesce(col("price_cents"), lit(0L))).as("total_cents"))
      .select(col("batch").cast("int").as("batch"), col("n_orders"),
        col("n_priced"), col("total_cents"))
  }

  /** MERGE / upsert (the lakehouse CDC-apply): a deterministic change
    * batch — balance deltas from orders, tombstones for custkey % 89,
    * brand-new rows for custkey % 97 — applied to the customer base in
    * ONE full-outer join producing the next snapshot: matched+delta →
    * updated, matched+tombstone → dropped, unmatched change → inserted,
    * untouched base → kept. This is `MERGE INTO` semantics as pure
    * DataFrame algebra (what Delta/Iceberg run under the hood); the
    * join shuffles both sides once on the key and all arithmetic is
    * integer cents. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir).select(col("c_custkey").as("key"),
      round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
    val deltas = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("key"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("delta"))
    val changes = deltas.filter(col("key") % 89 =!= 0)
      .select(col("key"), lit("U").as("op"), col("delta"))
      .unionByName(base.filter(col("key") % 89 === 0)
        .select(col("key"), lit("D").as("op"), lit(0L).as("delta")))
      // Insert keys live in the negative range: custkeys are >= 0 at
      // EVERY scale factor, so -(key+1) can never collide with a real
      // key (a fixed positive offset collides once custkey passes it).
      .unionByName(base.filter(col("key") % 97 === 0)
        .select((-(col("key") + 1L)).cast("long").as("key"), lit("I").as("op"),
          (col("key") * 100).as("delta")))
    base.join(changes, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key").cast("long").as("key"),
        (coalesce(col("bal_cents"), lit(0L)) + coalesce(col("delta"), lit(0L)))
          .as("bal_cents"),
        when(col("op").isNull, "kept")
          .when(col("op") === "I", "inserted")
          .otherwise("updated").as("action"))
  }

  /** CORPUS SNAPSHOT DIFF — the dataset-release audit between two
    * corpus versions: per-verdict (added / removed / changed /
    * unchanged) doc and token counts. The two versions are derived
    * deterministically from the documents table (v1 drops doc_id%13==0,
    * v2 drops doc_id%7==0 and revises doc_id%11==0), so the oracle
    * replays the exact derivation; a real release diffs two parquet
    * snapshot roots with the identical plan. Shape: ONE full-outer
    * equi-join on doc_id comparing content md5s, then a 4-row
    * aggregate — with both snapshots bucketed by doc_id the join is
    * shuffle-free; never a content-level comparison of unchanged rows
    * beyond the hash equality. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
    val v1 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("n_tokens").as("tok1"), col("h").as("h1"))
    val v2 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("n_tokens").as("tok2"),
        when(col("doc_id") % 11 === 0, md5(concat(col("h"), lit("rev2"))))
          .otherwise(col("h")).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("verdict"),
        coalesce(col("tok2"), col("tok1")).as("n_tokens"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
  }

  /** DISTINCT ORDER BASKETS as sorted part arrays — the shared input
    * of the pair-mining family ([[itemPairs]], [[assocRules]],
    * [[itemTriples]], `GraphOps.linkPrediction`). ONE exchange (the
    * order-keyed aggregate; `collect_set` is map-side-combined and
    * dedups multi-line items exactly like the old `distinct()`), where
    * the r18 shape paid the distinct exchange TWICE (both self-join
    * sides re-derived it) plus the self-join itself. Baskets are ≤ 7
    * parts by schema (TPC-H ships ≤ 7 lines/order), so the array is
    * O(1) per row at every scale; `sort_array` fixes the in-basket
    * order so pair expansion emits each unordered pair exactly once
    * with pa < pb — bit-identical to the old `a.p < b.p` join
    * condition. The isNotNull filters reproduce the old inner-join
    * null semantics AND keep the parquet scan's PushedFilters. */
  private[graft] def orderBaskets(spark: SparkSession,
      dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o")
      .agg(sort_array(collect_set(col("p"))).as("ps"))

  /** Order-level part pairs (o, pa, pb), pa < pb, expanded IN-ROW from
    * a baskets table — replaces the distinct-distinct self-join (guide
    * §3: the join's only role was pair enumeration within an order;
    * enumerating from the basket array moves zero bytes). Two chained
    * codegen'd generators (posexplode + explode over `slice`), no
    * higher-order function (Catalyst interprets HOF lambdas), Σ
    * basket² ≤ 21 rows per order. */
  private[graft] def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(col("o"), col("ps"),
        posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("o"), col("pa"),
        explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("pb"))

  /** Minimum support for [[itemTriples]]' frequent-pair frontier. */
  val TripleMinSup = 2

  /** APRIORI frequent-TRIPLE mining over order baskets — the level-3
    * step of market-basket analysis, with the classic candidate
    * pruning: order-level triples are generated ONLY by extending
    * frequent pairs, and a candidate (a,b,c) survives only if ALL
    * THREE of its sub-pairs are frequent (the Apriori downward-closure
    * property) — the raw basket³ expansion never materializes. Output:
    * every surviving candidate with its exact support and the
    * ≥ minSup verdict as 0/1.
    *
    * Plan/scale shape (r19): the basket table is materialized once
    * (both the F2 support aggregate and the extension input expand
    * from it IN-ROW via [[basketPairs]] — the r18 shape paid a
    * distinct-distinct self-join for op0 AND an items-extension join
    * for the third element; both joins are gone, guide §3). The
    * frequent-pair frontier F2 is support-thresholded (|F2| ≪ |pairs|
    * — 3.5k of 1.2M at sf0.1) and BROADCAST into every semi join (its
    * checkpoint strips stats, and the k-core lesson applies: hint the
    * side you know is bounded). Order-level pair rows are semi-filtered
    * by F2 BEFORE the in-basket third-item expansion, so the fan-out is
    * bounded by frequent-pair occurrences × basket size, not basket³.
    * At 100 TB minSup scales with the corpus, keeping F2 the
    * sketch-sized frontier — exactly why Apriori, not raw enumeration,
    * is the shape that survives. */
  def itemTriples(spark: SparkSession, dir: String,
      minSup: Int = TripleMinSup): DataFrame = {
    val baskets = orderBaskets(spark, dir).localCheckpoint()
    val f2 = basketPairs(baskets).groupBy("pa", "pb")
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSup)
      .select("pa", "pb")
      .localCheckpoint()
    // Second expansion keeps the basket array and pb's absolute
    // position j, so the frequent-filtered (pa, pb) rows extend to
    // their third element by slicing the SAME basket — no join back to
    // the item table.
    baskets
      .select(col("o"), col("ps"), posexplode(col("ps")).as(Seq("i", "pa")))
      .select(col("o"), col("ps"), col("pa"), col("i"),
        posexplode(expr("slice(ps, i + 2, size(ps) - i - 1)"))
          .as(Seq("j0", "pb")))
      .withColumn("j", col("i") + 1 + col("j0"))
      .join(broadcast(f2), Seq("pa", "pb"), "left_semi")
      .select(col("o"), col("pa"), col("pb"),
        explode(expr("slice(ps, j + 2, size(ps) - j - 1)")).as("pc"))
      .join(broadcast(f2.select(col("pa"), col("pb").as("pc"))),
        Seq("pa", "pc"), "left_semi")
      .join(broadcast(f2.select(col("pa").as("pb"), col("pb").as("pc"))),
        Seq("pb", "pc"), "left_semi")
      .groupBy("pa", "pb", "pc")
      .agg(count(lit(1)).as("sup"))
      .withColumn("frequent",
        when(col("sup") >= minSup, 1L).otherwise(0L))
  }

  /** Market-basket co-occurrence: top part pairs by the number of
    * orders containing BOTH — the support statistic of frequent-itemset
    * mining. Pairs are enumerated in-row from the sorted basket array
    * ([[basketPairs]]; r19 — the r18 distinct-distinct self-join paid
    * the distinct exchange twice plus a corpus-sized broadcast build),
    * fan-out bounded by basket² ≤ ~7² per order regardless of corpus
    * size. Top-k via orderBy+limit (TakeOrderedAndProject — each task
    * keeps a k-heap, the driver merges k·tasks rows) with the rank
    * attached AFTER the limit, so the window only ever sees k rows.
    * (The row_number-then-filter form ran a single-partition sort over
    * the whole pair aggregate — at pair-key cardinality that was this
    * query's entire cost.) */
  def itemPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.orderBy(col("n_orders").desc, col("part_i"), col("part_j"))
    basketPairs(orderBaskets(spark, dir))
      .groupBy(col("pa").as("part_i"), col("pb").as("part_j"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_i"), col("part_j")).limit(k)
      .withColumn("rk", row_number().over(w))
  }

  /** EXACT DECISION-STUMP SPLIT FINDING (the GBDT/random-forest inner
    * loop, distributed): over feature = quantity (integral domain
    * 1..50) and label = "line was returned", score every candidate
    * threshold t by the two-sided Gini purity Σ-classes c²/n — the
    * quantity a tree learner maximizes — computed ENTIRELY from one
    * (feature value) histogram + prefix sums: n_L, r_L at every t are
    * cumulative cells, never a re-scan per candidate (the histogram
    * trick XGBoost/LightGBM run per feature, here as one window over
    * the domain-bounded value table). Scores are per-side milli
    * floor-divs (deterministic sum of floors — the kruskalWallis
    * per-term discipline), argmax by (score, t) so the chosen split
    * replays engine-identically; the report is the full candidate
    * table with `is_best` flagged — the table IS what a boosting
    * round inspects.
    *
    * Plan/scale shape: one fact scan → |domain| cell aggregate →
    * bounded prefix window → |domain|-row scoring + 1-row argmax
    * broadcast. */
  def bestSplit(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("q"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy("q").agg(count(lit(1)).as("n"), sum("ret").as("r"))
    val w = Window.orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cells
      .orderBy("q").limit(100000) // integral feature domain; plan bound
      .withColumn("nl", sum("n").over(w))
      .withColumn("rl", sum("r").over(w))
      .crossJoin(cells.agg(sum("n").as("nt"), sum("r").as("rt")))
      .filter(col("nl") < col("nt")) // top value has no right side
      .select(col("q").as("threshold"), col("nl").as("n_left"),
        (col("nt") - col("nl")).as("n_right"),
        expr("CAST((CAST(rl AS DECIMAL(38,0)) * rl" +
          " + CAST(nl - rl AS DECIMAL(38,0)) * (nl - rl)) * 1000 div nl" +
          " + (CAST(rt - rl AS DECIMAL(38,0)) * (rt - rl)" +
          " + CAST((nt - nl) - (rt - rl) AS DECIMAL(38,0))" +
          " * ((nt - nl) - (rt - rl))) * 1000 div (nt - nl)" +
          " AS BIGINT)").as("purity_milli"))
    val best = scored.agg(max(struct(col("purity_milli"),
      (-col("threshold")).as("neg_t"))).as("b"))
    scored.crossJoin(best)
      .withColumn("is_best",
        col("purity_milli") === col("b.purity_milli") &&
          col("threshold") === -col("b.neg_t"))
      .drop("b")
  }

  /** Boosting rounds for [[boostRounds]]; the oracle unrolls the same
    * count. */
  val BoostRounds = 2

  /** GRADIENT-BOOSTING TRAINING LOOP (two rounds of regression
    * stumps on residuals) — [[bestSplit]] is the single-stump inner
    * loop; this is the actual GBDT round structure as queries: fit
    * the best (feature, threshold) stump to the current residuals by
    * SSE-reduction in the mean×sum form (gain = μ_L·S_L + μ_R·S_R
    * with the floored leaf means, over the bounded-domain value
    * cells — the histogram trick; see the in-body note on why not
    * S²/n), subtract the leaf means, refit on what remains. Everything is exact integer
    * cents: sums ≤ 6·10¹³ so squared sums stay inside DECIMAL(38)/
    * HUGEINT, and every residual mean uses the SIGN-SPLIT floor
    * (`CASE s≥0 … ELSE -((-s) div n)`) because Spark's `div`
    * truncates where DuckDB's `//` floors — on negative residual
    * sums the two would silently diverge otherwise. Candidate counts
    * are bounded by the integral feature domains (quantity ≤ 50,
    * discount ≤ 11), so the per-round work is one fact aggregate +
    * bounded algebra, and the model replays digit-for-digit where
    * float GBDT depends on summation order. */
  def boostRounds(spark: SparkSession, dir: String,
      rounds: Int = BoostRounds): DataFrame = {
    var rows = Tables.lineitem(spark, dir)
      .select(col("l_quantity").cast("long").as("fq"),
        expr("CAST(round(l_discount * 100, 0) AS BIGINT)").as("fd"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("r"))
      .localCheckpoint() // feeds both features' cells + the residual map
    var picks: DataFrame = null
    for (rnd <- 1 to rounds) {
      def cand(f: String) = {
        val cells = rows.groupBy(f).agg(count(lit(1)).as("n"),
          sum(expr("CAST(r AS DECIMAL(38,0))")).as("s"))
        val w = Window.orderBy(f)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // Gain uses the MEAN×SUM form μ_L·S_L + μ_R·S_R (with the
        // floored leaf means) instead of S²/n: Spark's `div` returns
        // LONG, and S²/n quotients pass Long.MaxValue once |S| ~ 10¹³
        // (observed at sf0.1) — the mean×sum products stay ≤ ~10²⁰
        // inside DECIMAL(38) and the floored objective is identical
        // in both engines.
        cells.orderBy(f).limit(100000) // integral feature domain; plan bound
          .withColumn("nl", sum("n").over(w))
          .withColumn("sl", sum("s").over(w))
          .crossJoin(cells.agg(sum("n").as("nt"), sum("s").as("st")))
          .filter(col("nl") < col("nt"))
          .select(lit(f).as("feature"), col(f).as("threshold"),
            col("nl").as("n_left"), expr("nt - nl").as("n_right"),
            col("sl"), expr("st - sl").as("sr"),
            expr("CAST(CASE WHEN sl >= 0 THEN sl div nl" +
              " ELSE -((-sl) div nl) END AS BIGINT)")
              .as("leaf_left_cents"),
            expr("CAST(CASE WHEN st - sl >= 0" +
              " THEN (st - sl) div (nt - nl)" +
              " ELSE -((-(st - sl)) div (nt - nl)) END AS BIGINT)")
              .as("leaf_right_cents"))
          .withColumn("gain",
            expr("CAST(CAST(leaf_left_cents AS DECIMAL(38,0)) * sl" +
              " + CAST(leaf_right_cents AS DECIMAL(38,0)) * sr" +
              " AS DECIMAL(38,0))"))
      }
      val pick = cand("fq").unionByName(cand("fd"))
        .orderBy(col("gain").desc, col("feature"), col("threshold"))
        .limit(1)
        .select(lit(rnd).as("round"), col("feature"), col("threshold"),
          col("n_left"), col("n_right"), col("leaf_left_cents"),
          col("leaf_right_cents"),
          expr("CAST(gain div 1000000000 AS BIGINT)").as("gain_e9"))
        .localCheckpoint() // 1 row
      picks = if (picks == null) pick else picks.union(pick)
      if (rnd < rounds) rows = rows.crossJoin(pick)
        .select(col("fq"), col("fd"),
          (col("r") - when(
            (col("feature") === "fq" && col("fq") <= col("threshold")) ||
              (col("feature") === "fd" && col("fd") <= col("threshold")),
            col("leaf_left_cents")).otherwise(col("leaf_right_cents")))
            .as("r"))
    }
    picks
  }

  /** LEAVE-ONE-OUT TARGET ENCODING (the leakage-safe categorical
    * feature): encode each order's customer-nation by the
    * high-value rate of the OTHER orders in that nation —
    * (s_g − y_i)·10⁶ div (n_g − 1), a pure function of broadcast
    * group totals (the [[graft.operators.Stats.jackknife]] deletion
    * identity reused as feature engineering). The naive group-mean
    * encoding leaks each row's own label into its feature and
    * inflates offline metrics; LOO is the standard fix and costs ONE
    * projection here, not a per-row recomputation. Singleton groups
    * fall back to the global prior (the other standard rule). The
    * report aggregates the encoded column per nation (n, rate, LOO
    * min/max/mean ppm) so the whole encoding is hash-checked without
    * shipping per-row features.
    *
    * Plan/scale shape (r19): ONE fact⋈broadcast-dims pass into the
    * |nations| totals — the per-row LOO encode is a pure function of
    * (y, group totals) and y is BINARY, so each group holds at most
    * TWO distinct encoded values: enc₀ = s_g·10⁶ div (n_g−1) for its
    * n_g−s_g zero-label rows and enc₁ = (s_g−1)·10⁶ div (n_g−1) for
    * its s_g one-label rows (singletons: the global prior for both).
    * min/max/mean therefore assemble in CLOSED FORM on the |nations|
    * group table — the previous join-back re-ran the whole
    * orders⋈dims subtree a second time and re-aggregated the fact
    * just to fold per-row values the totals already determine:
    *   min = enc₁ if s_g > 0 else enc₀ (enc₁ < enc₀ always),
    *   max = enc₀ if s_g < n_g else enc₁,
    *   mean = (s_g·enc₁ + (n_g−s_g)·enc₀) div n_g
    * — identical integers to folding the n_g per-row values. */
  def targetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        when(col("o_totalprice") > 200000.0, 1L).otherwise(0L).as("y"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("y"))
    val grp = rows.groupBy("n_name")
      .agg(count(lit(1)).as("n_g"), sum("y").as("s_g"))
    val tot = grp.agg(sum("n_g").as("n"), sum("s_g").as("s"))
    grp.crossJoin(tot)
      .select(col("n_name"), col("n_g"), col("s_g"),
        expr("CAST(CASE WHEN n_g <= 1 THEN" +
          " CAST(s AS DECIMAL(38,0)) * 1000000 div n ELSE" +
          " CAST(s_g AS DECIMAL(38,0)) * 1000000 div (n_g - 1)" +
          " END AS BIGINT)").as("enc0"),
        expr("CAST(CASE WHEN n_g <= 1 THEN" +
          " CAST(s AS DECIMAL(38,0)) * 1000000 div n ELSE" +
          " CAST(s_g - 1 AS DECIMAL(38,0)) * 1000000 div (n_g - 1)" +
          " END AS BIGINT)").as("enc1"))
      .select(col("n_name"), col("n_g"), col("s_g"),
        when(col("s_g") > 0, col("enc1")).otherwise(col("enc0"))
          .as("enc_min_ppm"),
        when(col("s_g") < col("n_g"), col("enc0")).otherwise(col("enc1"))
          .as("enc_max_ppm"),
        expr("CAST((CAST(s_g AS DECIMAL(38,0)) * enc1" +
          " + (n_g - s_g) * enc0) div n_g AS BIGINT)").as("enc_mean_ppm"))
  }

  /** ASSOCIATION RULES (A → B with support / confidence / lift) over
    * market baskets — the rule-mining readout on top of [[itemPairs]]'
    * co-occurrence counts: confidence = P(B|A) answers "what to
    * recommend", lift = P(A,B)/(P(A)P(B)) answers "is it real or just
    * popularity", and both are exact integer rationals here
    * (conf_ppm = sup·10⁶ div n_a, lift_milli = sup·N·1000 div
    * (n_a·n_b)) so the top-k rule list replays digit-for-digit.
    * Both rule directions are emitted (A→B and B→A share sup but not
    * confidence); ties on lift break on (antecedent, consequent).
    *
    * Plan/scale shape (r19): baskets materialized once (three
    * consumers: N, item counts, pairs) → in-row pair expansion
    * ([[basketPairs]] — the r18 per-order self-join is gone) → (i, j)
    * pair aggregate (the [[itemPairs]] cost, dominated by the pair
    * shuffle) → minSup ≥ 2 filter FIRST (kills the sup=1 long tail
    * before any further join) → item-count equi-join (post-agg sizes
    * both sides) → broadcast 1-row N → TakeOrdered top-k with the rank
    * attached after the limit. */
  def assocRules(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val baskets = orderBaskets(spark, dir).localCheckpoint()
    val nTab = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = baskets.select(explode(col("ps")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = basketPairs(baskets)
      .groupBy(col("pa").as("pi"), col("pb").as("pj"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
    val directed = pairs
      .select(col("pi").as("antecedent"), col("pj").as("consequent"),
        col("sup"))
      .unionAll(pairs.select(col("pj").as("antecedent"),
        col("pi").as("consequent"), col("sup")))
    val w = Window.orderBy(col("lift_milli").desc,
      col("antecedent"), col("consequent"))
    directed
      .join(itemCnt.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("n_item", "n_a"), Seq("antecedent"))
      .join(itemCnt.withColumnRenamed("item", "consequent")
        .withColumnRenamed("n_item", "n_b"), Seq("consequent"))
      .crossJoin(nTab)
      .select(col("antecedent"), col("consequent"), col("sup"),
        col("n_a"), col("n_b"),
        expr("CAST(sup * 1000000 div n_a AS BIGINT)").as("conf_ppm"),
        expr("CAST(CAST(sup AS DECIMAL(38,0)) * n_baskets * 1000" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("antecedent"), col("consequent"))
      .limit(k)
      .withColumn("rk", row_number().over(w))
  }

  /** Daily OHLC (open / high / low / close) candlesticks per event
    * type — the time-series rollup every monitoring / market surface
    * draws. Open and close are the first and last VALUES of the day,
    * selected with `min_by`/`max_by` over the UNIQUE ordering key
    * (ts, event_id) — a bare min_by(value, ts) picks an arbitrary row
    * among ts ties and would differ between engines; the composite key
    * makes the pick deterministic, which is what lets the candlestick
    * table hash-check at all.
    *
    * Plan: one scan → one map-side-combined (type, day) hash
    * aggregate; min_by/max_by carry one (key, value) pair of state per
    * group — the same O(1)-per-group cost as min/max. */
  def ohlcDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000L").as("day"),
        col("ts"), col("event_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(
        expr("min_by(cents, struct(ts, event_id))").as("open_cents"),
        max("cents").as("high_cents"),
        min("cents").as("low_cents"),
        expr("max_by(cents, struct(ts, event_id))").as("close_cents"),
        count(lit(1)).as("n_events"),
        sum("cents").as("volume_cents"))

  /** REFERENTIAL-INTEGRITY audit across every FK edge of the star
    * schema — the orphan report (child rows whose parent key does not
    * exist) a warehouse runs after every load, here as one table:
    * edge, child rows, distinct keys, orphan rows, orphan keys. The
    * [[constraintReport]] checks ONE edge as part of its gate; this is
    * the full-schema sweep.
    *
    * Plan (r19): the three lineitem edges MELT out of ONE fact scan
    * (`stack` — three per-edge scans would re-read the dominant table
    * three times at 100 TB), union with the orders/events edges, then
    * one (edge, key) map-side-combined pre-aggregate; ONE left join
    * against the tagged parent-key union (parents are PRIMARY keys —
    * unique per edge — so the join cannot fan out and a null match IS
    * the orphan verdict) runs on |distinct keys| post-aggregate rows —
    * never the raw fact; totals and orphan counts come from one
    * conditional per-edge aggregate. (The r18 anti-join + two-rollup
    * shape consumed the keyed aggregate twice and re-ran the melted
    * fact union both times — 13 scans.) */
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Edge NAMES stay out of the fact-sized shuffles: a 1-digit int
    // tag rides the (edge, key) rows, the 45-char label attaches to
    // the 5-row report (measured: the string tag alone cost ~0.6 s at
    // sf0.1 — at 100 TB it is 3× the fact in label bytes).
    val names = Seq(
      1 -> "lineitem.l_orderkey->orders.o_orderkey",
      2 -> "lineitem.l_partkey->part.p_partkey",
      3 -> "lineitem.l_suppkey->supplier.s_suppkey",
      4 -> "orders.o_custkey->customer.c_custkey",
      5 -> "events.user_id->customer.c_custkey").toDF("e", "fk_edge")
    val child = Tables.lineitem(spark, dir)
      .select(expr("stack(3, 1, l_orderkey, 2, l_partkey, 3, l_suppkey)" +
        " AS (e, k)"))
      .unionByName(Tables.orders(spark, dir)
        .select(lit(4).as("e"), col("o_custkey").as("k")))
      .unionByName(Tables.events(spark, dir)
        .select(lit(5).as("e"), col("user_id").as("k")))
    val parents = Tables.orders(spark, dir)
      .select(lit(1).as("e"), col("o_orderkey").as("k"))
      .unionByName(Tables.part(spark, dir)
        .select(lit(2).as("e"), col("p_partkey").as("k")))
      .unionByName(Tables.supplier(spark, dir)
        .select(lit(3).as("e"), col("s_suppkey").as("k")))
      .unionByName(Tables.customer(spark, dir)
        .select(lit(4).as("e"), col("c_custkey").as("k")))
      .unionByName(Tables.customer(spark, dir)
        .select(lit(5).as("e"), col("c_custkey").as("k")))
    val keyed = child.groupBy("e", "k").agg(count(lit(1)).as("c"))
    // ONE pass (r19): the r18 shape consumed `keyed` twice (an
    // anti-join rollup for orphans plus a second rollup for totals),
    // re-running the melted 3-fact union + aggregate — 13 scans in the
    // plan. Parent keys are PRIMARY keys (unique per edge), so a left
    // join cannot fan out and a null match IS the orphan verdict; both
    // rollups collapse into one conditional aggregate over one pass.
    keyed
      .join(parents.withColumn("m", lit(1)), Seq("e", "k"), "left")
      .groupBy("e")
      .agg(sum("c").as("child_rows"), count(lit(1)).as("distinct_keys"),
        coalesce(sum(when(col("m").isNull, col("c"))), lit(0L))
          .as("orphan_rows"),
        count(when(col("m").isNull, 1)).as("orphan_keys"))
      .join(names, Seq("e"))
      .select(col("fk_edge"), col("child_rows"), col("distinct_keys"),
        col("orphan_rows"), col("orphan_keys"))
  }

  /** SKEW / SALT PLANNER — the pre-join diagnosis a 1000-executor
    * shuffle needs: for each join-key column of the two fact tables,
    * exact row count, distinct-key count, hottest key (identity and
    * count), the skew ratio hottest/mean in milli, and the
    * RECOMMENDED SALT FACTOR = ⌈max_cnt · P / rows⌉ with P =
    * [[SaltTasks]] target parallelism — "how many tasks does the
    * hottest key need so it stops exceeding one task's fair share",
    * the number you feed straight into a salted re-key (and the
    * exact quantity AQE's skew-split derives at runtime; computing it
    * AHEAD of the join is what lets you pre-partition or bucket).
    * Scale-free by construction: uniform keys give 1, a key owning
    * half the table gives P/2, independent of SF.
    *
    * Plan: the three lineitem key columns MELT from ONE fact scan
    * (`stack`, int tags — the [[fkOrphans]] discipline), union one
    * events scan; ONE (edge, key) map-side-combined aggregate; the
    * per-edge rollup rides `max_by(k, struct(c, k))` so the hottest
    * key needs no second pass and no join-back (deterministic: k is
    * unique within an edge, so the (c, k) ordering has no ties). The
    * 4-row report joins the broadcast name table. */
  def saltPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = Seq(
      1 -> "lineitem.l_orderkey", 2 -> "lineitem.l_partkey",
      3 -> "lineitem.l_suppkey", 4 -> "events.user_id")
      .toDF("e", "join_key")
    val keyed = Tables.lineitem(spark, dir)
      .select(expr("stack(3, 1, l_orderkey, 2, l_partkey, 3, l_suppkey)" +
        " AS (e, k)"))
      .unionByName(Tables.events(spark, dir)
        .select(lit(4).as("e"), col("user_id").as("k")))
      .groupBy("e", "k").agg(count(lit(1)).as("c"))
    keyed.groupBy("e")
      .agg(sum("c").as("n_rows"), count(lit(1)).as("ndv"),
        max("c").as("max_cnt"),
        expr("max_by(k, struct(c, k))").as("hot_key"))
      .join(names, Seq("e"))
      .select(col("join_key"), col("n_rows"), col("ndv"), col("max_cnt"),
        col("hot_key"),
        expr("CAST(CAST(max_cnt AS DECIMAL(38,0)) * ndv * 1000 div n_rows" +
          " AS BIGINT)").as("skew_milli"),
        expr(s"CAST((CAST(max_cnt AS DECIMAL(38,0)) * $SaltTasks" +
          " + n_rows - 1) div n_rows AS BIGINT)").as("salt_factor"))
  }

  /** Target parallelism for [[saltPlan]]'s recommendation — the
    * shuffle-partition count the plan is sized against (matches
    * GraftSession's spark.sql.shuffle.partitions; a cluster deploy
    * passes its own). A literal so the DuckDB oracle replays it. */
  val SaltTasks = 32

  /** Declarative data-quality CONSTRAINT REPORT (the Deequ/
    * Great-Expectations shape): completeness, uniqueness, domain,
    * range and referential-integrity checks computed as ONE aggregate
    * pass over each fact (plus one anti-join for the FK), emitted as a
    * (constraint, violations, passed) table a pipeline gate can act on.
    * Every metric is an exact integer count — bit-reproducible, so the
    * report itself is oracle-checkable, unlike sampled validators. */
  def constraintReport(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
      sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L))
        .as("bad_status"),
      sum(when(col("o_orderdate") < to_timestamp_ntz(lit("1990-01-01")) ||
        col("o_orderdate") >= to_timestamp_ntz(lit("2030-01-01")), 1L)
        .otherwise(0L)).as("date_range"))
    val orphans = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    agg.crossJoin(orphans)
      .select(explode(array(
        struct(lit("orderkey_unique").as("constraint"),
          col("dup_keys").as("violations")),
        struct(lit("custkey_complete").as("constraint"),
          col("null_cust").as("violations")),
        struct(lit("totalprice_positive").as("constraint"),
          col("nonpos_price").as("violations")),
        struct(lit("orderstatus_domain").as("constraint"),
          col("bad_status").as("violations")),
        struct(lit("orderdate_in_range").as("constraint"),
          col("date_range").as("violations")),
        struct(lit("lineitem_fk_orders").as("constraint"),
          col("fk_orphans").as("violations")))).as("r"))
      .select(col("r.constraint"), col("r.violations"),
        (col("r.violations") === 0L).as("passed"))
  }

  /** INCREMENTAL VIEW MAINTENANCE of a monthly revenue aggregate: the
    * persisted agg-state table (orders before the cutover) merged with
    * a delta batch's partial aggregate via one full-outer coalesce —
    * the pre-aggregation pattern every 100 TB rollup pipeline runs
    * nightly (touch only the delta, never rescan history). The oracle
    * is the FULL recompute over all orders: merged state ≡ recompute
    * proves the maintenance algebra (sums and counts are abelian-group
    * aggregates; min/max would need the retraction-free caveat). */
  def incrementalMonthlyRevenue(spark: SparkSession, dir: String,
      cutover: String = "1998-01-01"): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    def monthly(df: DataFrame): DataFrame = df
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(cents).as("revenue_cents"), count(lit(1)).as("n_orders"))
    val o = Tables.orders(spark, dir)
    val base = monthly(o.filter(col("o_orderdate") < to_timestamp_ntz(lit(cutover))))
    val delta = monthly(o.filter(col("o_orderdate") >= to_timestamp_ntz(lit(cutover))))
    base.select(col("month"), col("revenue_cents").as("b_rev"),
      col("n_orders").as("b_n"))
      .join(delta.select(col("month"), col("revenue_cents").as("d_rev"),
        col("n_orders").as("d_n")), Seq("month"), "full_outer")
      .select(date_format(col("month"), "yyyy-MM").as("month"),
        (coalesce(col("b_rev"), lit(0L)) + coalesce(col("d_rev"), lit(0L)))
          .as("revenue_cents"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_orders"))
  }

  /** RETRACTION-aware incremental view maintenance — [[
    * incrementalMonthlyRevenue]] handles append-only deltas; real CDC
    * feeds carry DELETEs and UPDATEs too, and the maintained aggregate
    * must absorb them as SIGNED deltas (delete → −cents/−1 row, update
    * → retract old + insert new) without ever rescanning the base.
    * Change batch (deterministic): orderkey ≡ 11 (mod 100) deleted,
    * ≡ 7 (mod 100) price +10%. Output = the maintained per-month
    * aggregate; the oracle recomputes it FROM THE PATCHED TABLE, so a
    * hash match proves delta maintenance ≡ full recompute.
    *
    * Plan/scale shape: one aggregate over the base (the standing
    * materialized view — at scale it already exists and costs
    * nothing), one aggregate over the CHANGE BATCH (batch-sized), one
    * |months|-keyed outer join. The signed-delta trick is what makes a
    * materialized view maintainable under CDC at 100 TB: work ∝
    * changes, never ∝ base. */
  def ivmRetract(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val o = Tables.orders(spark, dir)
    val base = o
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(cents).as("b_rev"), count(lit(1)).as("b_n"))
    // Signed deltas: deletes retract; updates retract old AND insert
    // new (net = the delta of the changed measure).
    val deltas = o
      .filter(col("o_orderkey") % 100 === 11 || col("o_orderkey") % 100 === 7)
      .select(date_trunc("month", col("o_orderdate")).as("month"),
        when(col("o_orderkey") % 100 === 11, -cents)
          .otherwise(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT) " +
            "div 10")).as("d_cents"),
        when(col("o_orderkey") % 100 === 11, -1L).otherwise(0L).as("d_n"))
      .groupBy("month")
      .agg(sum("d_cents").as("d_rev"), sum("d_n").as("d_n"))
    base.join(deltas, Seq("month"), "full_outer")
      .select(date_format(col("month"), "yyyy-MM").as("month"),
        (coalesce(col("b_rev"), lit(0L)) + coalesce(col("d_rev"), lit(0L)))
          .as("revenue_cents"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("n_orders"))
  }

  /** Time-series densification + gap audit: the per-supplier monthly
    * shipment series with MISSING months made explicit, then the
    * gaps-and-islands statistic over the dense grid (longest run of
    * consecutive zero months). The resample shape every
    * forecasting/SLA pipeline needs — a sparse fact table never shows
    * you the silence.
    *
    * Plan: ONE shuffle aggregates lineitem to (supplier, month) cells
    * (localCheckpointed — consumed by both the span bounds and the
    * grid join); the month dimension derives from a 1-row min/max agg
    * exploded and BROADCAST against suppliers, so the dense grid costs
    * no shuffle; the zero-run window partitions by supplier over at
    * most `span` rows (calendar-bounded, never data-volume-bounded —
    * the PlanRegressionSpec-safe kind of window). At 100 TB the only
    * full-data pass is the first aggregate; everything after runs on
    * |suppliers| × span cells. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        ((year(col("l_shipdate")) - 1992) * 12 + month(col("l_shipdate")) - 1)
          .as("m"))
      .groupBy("l_suppkey", "m").agg(count(lit(1)).as("n_ship"))
      .localCheckpoint()
    val months = base.agg(min("m").as("lo"), max("m").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("m"))
    // The dense grid is consumed twice (totals + the zero-run branch) —
    // materialize it once; it is |series| × span rows, never data-sized.
    val filled = Tables.supplier(spark, dir).select(col("s_suppkey"))
      .crossJoin(broadcast(months))
      .join(base, col("s_suppkey") === col("l_suppkey") &&
        months("m") === base("m"), "left")
      .select(col("s_suppkey"), months("m").as("m"),
        coalesce(col("n_ship"), lit(0L)).as("n_ship"))
      .localCheckpoint()
    val zeros = filled.filter(col("n_ship") === 0)
      .withColumn("grp", col("m") - row_number().over(
        Window.partitionBy("s_suppkey").orderBy("m")))
    val maxGap = zeros.groupBy("s_suppkey", "grp")
      .agg(count(lit(1)).as("run"))
      .groupBy("s_suppkey").agg(max("run").as("mg"))
    filled.groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_months"),
        sum(when(col("n_ship") === 0, 1L).otherwise(0L)).as("zero_months"),
        sum("n_ship").as("n_ship"))
      .join(maxGap, Seq("s_suppkey"), "left")
      .select(col("s_suppkey"), col("n_months"), col("zero_months"),
        coalesce(col("mg"), lit(0L)).as("max_gap"), col("n_ship"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gap_fill" -> gapFill,
    "q_merge_upsert" -> mergeUpsert,
    "q_corpus_diff" -> corpusDiff,
    "q_constraint_report" -> constraintReport,
    "q_fk_orphans" -> fkOrphans,
    "q_salt_plan" -> saltPlan,
    "q_ohlc_daily" -> ohlcDaily,
    "q_item_pairs" -> ((s, d) => itemPairs(s, d)),
    "q_assoc_rules" -> ((s, d) => assocRules(s, d)),
    "q_best_split" -> bestSplit,
    "q_boost_rounds" -> ((s, d) => boostRounds(s, d)),
    "q_target_encoding" -> targetEncoding,
    "q_item_triples" -> ((s, d) => itemTriples(s, d)),
    "q_ivm_monthly_revenue" -> ((s, d) => incrementalMonthlyRevenue(s, d)),
    "q_ivm_retract" -> ivmRetract,
    "q_order_cadence" -> orderCadence,
    "q_customer_set_ops" -> customerSetOps,
    "q_time_range_join" -> timeRangeJoin,
    "q_embed_quantize" -> embedQuantize,
    "q_embed_norm_stats" -> embedNormStats,
    "q_top_bigrams" -> topBigrams,
    "q_grouping_sets" -> groupingSetsStats,
    "q_trailing_revenue" -> trailingRevenue,
    "q_decayed_revenue" -> decayedRevenue,
    "q_latest_events" -> latestEvents,
    "q_scd2_ranges" -> scd2Ranges,
    "q_scd2_asof" -> scd2Asof,
    "q_snapshot_diff" -> snapshotDiff,
    "q_time_travel" -> timeTravel,
    "q_event_transitions" -> eventTransitions,
    "q_unpivot_metrics" -> unpivotMetrics,
    "q_csv_roundtrip" -> csvRoundtrip,
    "q_json_roundtrip" -> jsonRoundtrip,
    "q_orc_roundtrip" -> orcRoundtrip,
    "q_xml_roundtrip" -> xmlRoundtrip,
    "q_schema_merge" -> schemaMergeRead)

  /** Oracle for [[boostRounds]]: the stump-fit + residual rounds
    * unrolled as CTEs, all HUGEINT with the same sign-split floors. */
  private def boostSql(rounds: Int): String = {
    def candCtes(r: Int) = Seq("fq", "fd").map { f =>
      s"""c_${f}_$r AS (
         |  SELECT $f AS v, CAST(count(*) AS HUGEINT) AS n,
         |         CAST(sum(r) AS HUGEINT) AS s
         |  FROM rows$r GROUP BY 1),
         |sc_${f}_$r AS (
         |  SELECT '$f' AS feature, v AS threshold,
         |         sum(n) OVER w AS nl, sum(s) OVER w AS sl,
         |         (SELECT sum(n) FROM c_${f}_$r) AS nt,
         |         (SELECT sum(s) FROM c_${f}_$r) AS st
         |  FROM c_${f}_$r
         |  WINDOW w AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
        .stripMargin
    }.mkString(",\n")
    val roundCtes = (1 to rounds).map { r =>
      val residual = if (r < rounds)
        s""",
           |rows${r + 1} AS (
           |  SELECT fq, fd,
           |         r - (CASE WHEN (p.feature = 'fq' AND fq <= p.threshold)
           |               OR (p.feature = 'fd' AND fd <= p.threshold)
           |             THEN p.leaf_left_cents
           |             ELSE p.leaf_right_cents END) AS r
           |  FROM rows$r CROSS JOIN pick_$r p)""".stripMargin
      else ""
      s"""${candCtes(r)},
         |cand_$r AS (
         |  SELECT feature, threshold, nl AS n_left, nt - nl AS n_right,
         |         sl, st - sl AS sr,
         |         CASE WHEN sl >= 0 THEN sl // nl
         |           ELSE -((-sl) // nl) END AS leaf_left_cents,
         |         CASE WHEN st - sl >= 0 THEN (st - sl) // (nt - nl)
         |           ELSE -((-(st - sl)) // (nt - nl)) END
         |           AS leaf_right_cents
         |  FROM (SELECT * FROM sc_fq_$r UNION ALL SELECT * FROM sc_fd_$r) u
         |  WHERE nl < nt),
         |pick_$r AS (
         |  SELECT $r AS round, feature, threshold, n_left, n_right,
         |         leaf_left_cents, leaf_right_cents,
         |         (leaf_left_cents * sl + leaf_right_cents * sr)
         |           // 1000000000 AS gain_e9
         |  FROM cand_$r
         |  ORDER BY leaf_left_cents * sl + leaf_right_cents * sr DESC,
         |           feature, threshold LIMIT 1)$residual"""
        .stripMargin
    }.mkString(",\n")
    val finals = (1 to rounds).map(r =>
      s"""SELECT CAST(round AS INT) AS round, feature,
         |       CAST(threshold AS BIGINT) AS threshold,
         |       CAST(n_left AS BIGINT) AS n_left,
         |       CAST(n_right AS BIGINT) AS n_right,
         |       CAST(leaf_left_cents AS BIGINT) AS leaf_left_cents,
         |       CAST(leaf_right_cents AS BIGINT) AS leaf_right_cents,
         |       CAST(gain_e9 AS BIGINT) AS gain_e9
         |FROM pick_$r""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH rows1 AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS fq,
       |         CAST(round(l_discount * 100, 0) AS BIGINT) AS fd,
       |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS r
       |  FROM lineitem),
       |$roundCtes
       |$finals""".stripMargin
  }

  /** Shared by q_snapshot_diff and q_time_travel: the catalog read must
    * return byte-identical results to the in-plan derivation. */
  private val snapshotDiffSql =
    """WITH v1 AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
      |         c_mktsegment AS seg
      |  FROM customer),
      |v2 AS (
      |  SELECT k, CASE WHEN k % 7 = 3 THEN cents + 1000
      |            ELSE cents END AS cents, seg
      |  FROM v1 WHERE k % 11 <> 5
      |  UNION ALL
      |  SELECT k + 1000000, cents, seg FROM v1 WHERE k % 13 = 2),
      |d AS (
      |  SELECT CASE WHEN a.k IS NULL THEN 'inserted'
      |              WHEN b.k IS NULL THEN 'deleted'
      |              WHEN a.cents <> b.cents OR a.seg <> b.seg
      |                THEN 'updated'
      |              ELSE 'unchanged' END AS status,
      |         CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
      |              AND a.cents <> b.cents THEN 1 ELSE 0 END
      |           AS bal_chg,
      |         CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
      |              AND a.seg <> b.seg THEN 1 ELSE 0 END AS seg_chg
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k)
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(bal_chg) AS BIGINT) AS n_balance_changed,
      |       CAST(sum(seg_chg) AS BIGINT) AS n_segment_changed
      |FROM d GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_boost_rounds" -> boostSql(BoostRounds),
    "q_embed_norm_stats" ->
      """WITH p AS (SELECT unnest(range(1, 65)) AS k),
        |q AS (
        |  SELECT p.k - 1 AS pos,
        |         CAST(round(CAST(e.embedding[p.k] AS DOUBLE) * 1000000, 0)
        |              AS BIGINT) AS q
        |  FROM embeddings e, p),
        |g AS (
        |  SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(q) AS BIGINT) AS sum_q,
        |         sum(CAST(q AS HUGEINT) * q) AS sum_q2d
        |  FROM q GROUP BY pos)
        |SELECT CAST(pos AS BIGINT) AS pos, n, sum_q,
        |       CAST(sum_q2d AS BIGINT) AS sum_q2,
        |       CAST(CASE WHEN sum_q < 0 THEN -((-sum_q) // n)
        |            ELSE sum_q // n END AS BIGINT) AS mean_micro,
        |       CAST((n * sum_q2d - CAST(sum_q AS HUGEINT) * sum_q)
        |            // (n * (n - 1)) AS BIGINT) AS var_micro2
        |FROM g""".stripMargin,
    "q_item_triples" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |f2 AS (
         |  SELECT a.p AS pa, b.p AS pb
         |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= $TripleMinSup),
         |op AS (
         |  SELECT a.o AS o, a.p AS pa, b.p AS pb
         |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
         |opf AS (SELECT op.* FROM op
         |        SEMI JOIN f2 ON op.pa = f2.pa AND op.pb = f2.pb),
         |tri AS (SELECT opf.o, opf.pa, opf.pb, c.p AS pc
         |        FROM opf JOIN items c ON c.o = opf.o AND c.p > opf.pb),
         |trif AS (SELECT tri.* FROM tri
         |         SEMI JOIN f2 x ON tri.pa = x.pa AND tri.pc = x.pb
         |         SEMI JOIN f2 y ON tri.pb = y.pa AND tri.pc = y.pb)
         |SELECT pa, pb, pc, CAST(count(*) AS BIGINT) AS sup,
         |       CAST(CASE WHEN count(*) >= $TripleMinSup THEN 1 ELSE 0 END
         |            AS BIGINT) AS frequent
         |FROM trif GROUP BY 1, 2, 3""".stripMargin,
    "q_gap_fill" ->
      """WITH base AS (
        |  SELECT l_suppkey,
        |         (year(l_shipdate) - 1992) * 12 + month(l_shipdate) - 1 AS m,
        |         count(*) AS n_ship
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT min(m) AS lo, max(m) AS hi FROM base),
        |months AS (SELECT unnest(range((SELECT lo FROM b), (SELECT hi FROM b) + 1)) AS m),
        |filled AS (
        |  SELECT s.s_suppkey, months.m,
        |         coalesce(base.n_ship, 0) AS n_ship
        |  FROM supplier s CROSS JOIN months
        |  LEFT JOIN base ON base.l_suppkey = s.s_suppkey AND base.m = months.m),
        |zeros AS (
        |  SELECT s_suppkey, m,
        |         m - row_number() OVER (PARTITION BY s_suppkey ORDER BY m) AS grp
        |  FROM filled WHERE n_ship = 0),
        |runs AS (SELECT s_suppkey, count(*) AS run FROM zeros GROUP BY s_suppkey, grp),
        |mx AS (SELECT s_suppkey, max(run) AS mg FROM runs GROUP BY 1)
        |SELECT f.s_suppkey,
        |       count(*) AS n_months,
        |       CAST(sum(CASE WHEN f.n_ship = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_months,
        |       CAST(coalesce(any_value(mx.mg), 0) AS BIGINT) AS max_gap,
        |       CAST(sum(f.n_ship) AS BIGINT) AS n_ship
        |FROM filled f LEFT JOIN mx ON mx.s_suppkey = f.s_suppkey
        |GROUP BY 1""".stripMargin,
    "q_corpus_diff" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(length(regexp_split_to_array(lower(text), '\s+'))
        |           AS BIGINT) AS n_tokens,
        |         md5(text) AS h
        |  FROM documents),
        |v1 AS (SELECT doc_id, n_tokens AS tok1, h AS h1
        |       FROM d WHERE doc_id % 13 <> 0),
        |v2 AS (SELECT doc_id, n_tokens AS tok2,
        |              CASE WHEN doc_id % 11 = 0 THEN md5(h || 'rev2')
        |                   ELSE h END AS h2
        |       FROM d WHERE doc_id % 7 <> 0)
        |SELECT CASE WHEN h1 IS NULL THEN 'added'
        |            WHEN h2 IS NULL THEN 'removed'
        |            WHEN h1 = h2 THEN 'unchanged'
        |            ELSE 'changed' END AS verdict,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(coalesce(tok2, tok1)) AS BIGINT) AS tokens
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY 1""".stripMargin,
    "q_item_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        |  SELECT a.l_partkey AS part_i, b.l_partkey AS part_j,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM i a JOIN i b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_i, part_j, n_orders, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY n_orders DESC,
        |        part_i, part_j) AS rk FROM p)
        |WHERE rk <= 20""".stripMargin,
    // min_by/max_by over the unique (ts, event_id) key replayed as
    // first/last-row windows with the same composite ordering.
    "q_ohlc_daily" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         epoch_ns(ts) AS t, event_id,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT *,
        |             row_number() OVER (PARTITION BY event_type, day
        |               ORDER BY t, event_id) AS rn_a,
        |             row_number() OVER (PARTITION BY event_type, day
        |               ORDER BY t DESC, event_id DESC) AS rn_d
        |      FROM e)
        |SELECT event_type, day,
        |       CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT)
        |         AS open_cents,
        |       CAST(max(cents) AS BIGINT) AS high_cents,
        |       CAST(min(cents) AS BIGINT) AS low_cents,
        |       CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT)
        |         AS close_cents,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS volume_cents
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q_best_split" ->
      """WITH cells AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |               CAST(sum(r) AS BIGINT) AS rt FROM cells),
        |pre AS (
        |  SELECT q, CAST(sum(n) OVER win AS BIGINT) AS nl,
        |         CAST(sum(r) OVER win AS BIGINT) AS rl, nt, rt
        |  FROM cells CROSS JOIN tot
        |  WINDOW win AS (ORDER BY q
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT q AS threshold, nl AS n_left, nt - nl AS n_right,
        |         CAST((CAST(rl AS HUGEINT) * rl
        |            + CAST(nl - rl AS HUGEINT) * (nl - rl)) * 1000 // nl
        |            + (CAST(rt - rl AS HUGEINT) * (rt - rl)
        |            + CAST((nt - nl) - (rt - rl) AS HUGEINT)
        |              * ((nt - nl) - (rt - rl))) * 1000 // (nt - nl)
        |           AS BIGINT) AS purity_milli
        |  FROM pre WHERE nl < nt),
        |best AS (
        |  SELECT threshold AS bt, purity_milli AS bp FROM (
        |    SELECT threshold, purity_milli, row_number() OVER (
        |      ORDER BY purity_milli DESC, threshold) AS rk FROM scored)
        |  WHERE rk = 1)
        |SELECT s.threshold, s.n_left, s.n_right, s.purity_milli,
        |       (s.purity_milli = b.bp AND s.threshold = b.bt) AS is_best
        |FROM scored s CROSS JOIN best b""".stripMargin,
    "q_target_encoding" ->
      """WITH rows_ AS (
        |  SELECT n_name,
        |         CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |grp AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_g,
        |               CAST(sum(y) AS BIGINT) AS s_g
        |        FROM rows_ GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
        |               CAST(sum(s_g) AS BIGINT) AS s FROM grp),
        |enc AS (
        |  SELECT r.n_name, g.n_g, g.s_g,
        |         CAST(CASE WHEN g.n_g <= 1 THEN
        |             CAST(t.s AS HUGEINT) * 1000000 // t.n
        |           ELSE CAST(g.s_g - r.y AS HUGEINT) * 1000000
        |             // (g.n_g - 1) END AS BIGINT) AS enc_ppm
        |  FROM rows_ r JOIN grp g USING (n_name) CROSS JOIN tot t)
        |SELECT n_name, n_g, s_g,
        |       CAST(min(enc_ppm) AS BIGINT) AS enc_min_ppm,
        |       CAST(max(enc_ppm) AS BIGINT) AS enc_max_ppm,
        |       CAST(CAST(sum(enc_ppm) AS HUGEINT) // count(*) AS BIGINT)
        |         AS enc_mean_ppm
        |FROM enc GROUP BY 1, 2, 3""".stripMargin,
    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |        AS n_baskets FROM items),
        |ic AS (SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS n_item
        |       FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS pi, b.l_partkey AS pj,
        |         CAST(count(*) AS BIGINT) AS sup
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT pi AS antecedent, pj AS consequent, sup FROM pairs
        |  UNION ALL SELECT pj, pi, sup FROM pairs),
        |scored AS (
        |  SELECT d.antecedent, d.consequent, d.sup,
        |         ia.n_item AS n_a, ib.n_item AS n_b,
        |         CAST(d.sup * 1000000 // ia.n_item AS BIGINT) AS conf_ppm,
        |         CAST(CAST(d.sup AS HUGEINT) * n.n_baskets * 1000
        |           // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT)
        |           AS lift_milli
        |  FROM directed d JOIN ic ia ON d.antecedent = ia.item
        |  JOIN ic ib ON d.consequent = ib.item CROSS JOIN n)
        |SELECT antecedent, consequent, sup, n_a, n_b, conf_ppm,
        |       lift_milli, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY lift_milli DESC,
        |        antecedent, consequent) AS rk FROM scored)
        |WHERE rk <= 20""".stripMargin,
    "q_salt_plan" ->
      s"""WITH keyed AS (
         |  SELECT e, k, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT 1 AS e, l_orderkey AS k FROM lineitem
         |    UNION ALL SELECT 2, l_partkey FROM lineitem
         |    UNION ALL SELECT 3, l_suppkey FROM lineitem
         |    UNION ALL SELECT 4, user_id FROM events)
         |  GROUP BY 1, 2),
         |agg AS (
         |  SELECT e, CAST(sum(c) AS BIGINT) AS n_rows,
         |         CAST(count(*) AS BIGINT) AS ndv,
         |         CAST(max(c) AS BIGINT) AS max_cnt
         |  FROM keyed GROUP BY 1),
         |hot AS (
         |  SELECT e, CAST(k AS BIGINT) AS hot_key FROM (
         |    SELECT e, k, row_number() OVER (PARTITION BY e
         |      ORDER BY c DESC, k DESC) AS rn FROM keyed) WHERE rn = 1),
         |stats AS (SELECT agg.*, hot.hot_key FROM agg JOIN hot USING (e))
         |SELECT CASE e WHEN 1 THEN 'lineitem.l_orderkey'
         |              WHEN 2 THEN 'lineitem.l_partkey'
         |              WHEN 3 THEN 'lineitem.l_suppkey'
         |              ELSE 'events.user_id' END AS join_key,
         |       n_rows, ndv, max_cnt, hot_key,
         |       CAST(CAST(max_cnt AS HUGEINT) * ndv * 1000 // n_rows
         |         AS BIGINT) AS skew_milli,
         |       CAST((CAST(max_cnt AS HUGEINT) * $SaltTasks + n_rows - 1)
         |         // n_rows AS BIGINT) AS salt_factor
         |FROM stats""".stripMargin,
    "q_fk_orphans" ->
      """WITH e1 AS (
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk_edge,
        |         l_orderkey AS k FROM lineitem),
        |e2 AS (SELECT 'lineitem.l_partkey->part.p_partkey', l_partkey
        |       FROM lineitem),
        |e3 AS (SELECT 'lineitem.l_suppkey->supplier.s_suppkey', l_suppkey
        |       FROM lineitem),
        |e4 AS (SELECT 'orders.o_custkey->customer.c_custkey', o_custkey
        |       FROM orders),
        |e5 AS (SELECT 'events.user_id->customer.c_custkey', user_id
        |       FROM events),
        |child AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |          UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |          UNION ALL SELECT * FROM e5),
        |parents AS (
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk_edge,
        |         o_orderkey AS k FROM orders
        |  UNION ALL SELECT 'lineitem.l_partkey->part.p_partkey', p_partkey
        |    FROM part
        |  UNION ALL SELECT 'lineitem.l_suppkey->supplier.s_suppkey', s_suppkey
        |    FROM supplier
        |  UNION ALL SELECT 'orders.o_custkey->customer.c_custkey', c_custkey
        |    FROM customer
        |  UNION ALL SELECT 'events.user_id->customer.c_custkey', c_custkey
        |    FROM customer),
        |keyed AS (SELECT fk_edge, k, CAST(count(*) AS BIGINT) AS c
        |          FROM child GROUP BY 1, 2),
        |flag AS (SELECT keyed.*, p.k IS NOT NULL AS has_parent
        |         FROM keyed LEFT JOIN (SELECT DISTINCT fk_edge, k
        |                               FROM parents) p USING (fk_edge, k))
        |SELECT fk_edge, CAST(sum(c) AS BIGINT) AS child_rows,
        |       CAST(count(*) AS BIGINT) AS distinct_keys,
        |       CAST(coalesce(sum(CASE WHEN NOT has_parent THEN c END), 0)
        |         AS BIGINT) AS orphan_rows,
        |       CAST(sum(CASE WHEN NOT has_parent THEN 1 ELSE 0 END)
        |         AS BIGINT) AS orphan_keys
        |FROM flag GROUP BY 1""".stripMargin,
    "q_constraint_report" ->
"""WITH a AS (
        |  SELECT count(*) - count(DISTINCT o_orderkey) AS dup_keys,
        |         CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
        |           AS null_cust,
        |         CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
        |           AS nonpos_price,
        |         CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
        |           AS BIGINT) AS bad_status,
        |         CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
        |              OR o_orderdate >= TIMESTAMP '2030-01-01') AS BIGINT)
        |           AS date_range
        |  FROM orders),
        |fk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS fk_orphans
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL)
        |SELECT c.constraint, c.violations, c.violations = 0 AS passed
        |FROM a, fk, LATERAL (VALUES
        |  ('orderkey_unique', a.dup_keys),
        |  ('custkey_complete', a.null_cust),
        |  ('totalprice_positive', a.nonpos_price),
        |  ('orderstatus_domain', a.bad_status),
        |  ('orderdate_in_range', a.date_range),
        |  ('lineitem_fk_orders', fk.fk_orphans)) AS c("constraint", violations)""".stripMargin,
    // Full recompute — merged incremental state must equal it exactly.
    // Recomputed FROM THE PATCHED TABLE: hash match proves signed-delta
    // maintenance == full recompute.
    "q_ivm_retract" ->
      """WITH patched AS (
        |  SELECT o_orderdate,
        |         CASE WHEN o_orderkey % 100 = 7
        |              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                   + CAST(round(o_totalprice * 100, 0) AS BIGINT) // 10
        |              ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END
        |           AS cents
        |  FROM orders WHERE o_orderkey % 100 <> 11)
        |SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_orders
        |FROM patched GROUP BY 1""".stripMargin,
    "q_ivm_monthly_revenue" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,
    "q_event_transitions" ->
      """WITH p AS (
        |  SELECT user_id, event_type,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_trans,
        |       CAST(n_trans AS DOUBLE) /
        |         sum(n_trans) OVER (PARTITION BY prev_type) AS prob
        |FROM c""".stripMargin,
    "q_unpivot_metrics" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
        |         count(*) AS n_items,
        |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |              AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'qty_sum' AS metric, qty_sum AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'n_items', n_items FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'revenue_cents', revenue_cents FROM wide"""
        .stripMargin,
    "q_latest_events" ->
      """SELECT user_id, event_type, event_id,
        |       epoch_ns(ts) // 1000000000 AS ts_s,
        |       round(value, 2) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events) e
        |WHERE rn = 1""".stripMargin,
    "q_scd2_ranges" ->
      """SELECT user_id, event_id, event_type,
        |       epoch_ns(ts) // 1000000000 AS valid_from_s,
        |       epoch_ns(lead(ts, 1) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id)) // 1000000000 AS valid_to_s
        |FROM events""".stripMargin,
    "q_scd2_asof" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_ns(ts) // 1000000000 AS valid_from_s,
        |         epoch_ns(lead(ts, 1) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id)) // 1000000000 AS valid_to_s
        |  FROM events),
        |t AS (SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2
        |        // 1000000000 AS asof_s FROM events)
        |SELECT r.user_id, r.event_id, r.event_type, r.valid_from_s,
        |       t.asof_s
        |FROM r CROSS JOIN t
        |WHERE r.valid_from_s <= t.asof_s
        |  AND (r.valid_to_s IS NULL OR r.valid_to_s > t.asof_s)"""
        .stripMargin,
    "q_snapshot_diff" -> snapshotDiffSql,
    // Same oracle text: time travel must return byte-identical results
    // through the catalog round-trip.
    "q_time_travel" -> snapshotDiffSql,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "q_trailing_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(date_diff('day', DATE '1992-01-01',
        |            CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
        |       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
        |         PARTITION BY o_custkey
        |         ORDER BY date_diff('day', DATE '1992-01-01',
        |                            CAST(o_orderdate AS DATE))
        |         RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS trailing_90d_cents
        |FROM orders""".stripMargin,
    // Same power-of-two half-life shift, bigint bit ops both sides.
    "q_decayed_revenue" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         epoch_ns(ts) AS t
        |  FROM events),
        |m AS (SELECT max(t) AS mx FROM e),
        |d AS (SELECT event_type, cents,
        |             CAST((mx - t) // 604800000000000 AS BIGINT) AS k
        |      FROM e CROSS JOIN m),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |             CAST(sum(cents) AS BIGINT) AS raw_cents,
        |             CAST(sum(CASE WHEN k >= 63 THEN 0
        |                  ELSE cents // (CAST(1 AS BIGINT) << k) END)
        |               AS BIGINT) AS decayed_cents
        |      FROM d GROUP BY 1),
        |t AS (SELECT sum(decayed_cents) AS td FROM g)
        |SELECT event_type, n_events, raw_cents, decayed_cents,
        |       CAST(CAST(decayed_cents AS HUGEINT) * 1000000 // td AS BIGINT)
        |         AS decayed_share_ppm
        |FROM g CROSS JOIN t""".stripMargin,
    "q_order_cadence" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w_date AS INT) AS order_seq,
        |  CAST(date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w_date AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
        |  CAST(ntile(4) OVER w_spend AS INT) AS spend_quartile,
        |  percent_rank() OVER w_spend AS spend_pct_rank,
        |  cume_dist() OVER w_spend AS spend_cume_dist
        |FROM orders
        |WINDOW
        |  w_date AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  w_spend AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)"""
        .stripMargin,
    "q_customer_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT 'both' AS op, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1995' AS op, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1996' AS op, o_custkey FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)"""
        .stripMargin,
    "q_time_range_join" ->
      """SELECT p.event_id AS purchase_id,
        |       count(*) AS n_nearby_errors,
        |       CAST(min(abs(epoch_ns(p.ts) - epoch_ns(e.ts))) // 1000000000 AS BIGINT)
        |         AS closest_gap_s
        |FROM events p JOIN events e
        |  ON p.event_type = 'purchase' AND e.event_type = 'error'
        | AND abs(epoch_ns(p.ts) - epoch_ns(e.ts)) <= 60000000000
        |GROUP BY 1""".stripMargin,
    "q_embed_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         127.0 / greatest(list_max(list_transform(embedding,
        |            x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS scale
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(scale, 6) AS scale_r6,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))) AS BIGINT) AS code_sum,
        |  CAST(list_min(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))) AS BIGINT) AS code_min,
        |  CAST(list_max(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))) AS BIGINT) AS code_max
        |FROM s""".stripMargin,
    "q_top_bigrams" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)),
        |         i -> w[i] || ' ' || w[i+1]))) AS bigram
        |  FROM t WHERE len(w) >= 2),
        |c AS (SELECT bigram, count(*) AS df FROM b GROUP BY 1)
        |SELECT bigram, df, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY df DESC, bigram) AS rk FROM c)
        |WHERE rk <= 20""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey AS key,
        |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM customer),
        |deltas AS (
        |  SELECT o_custkey AS key,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS delta
        |  FROM orders GROUP BY 1),
        |changes AS (
        |  SELECT key, 'U' AS op, delta FROM deltas WHERE key % 89 <> 0
        |  UNION ALL
        |  SELECT key, 'D', CAST(0 AS BIGINT) FROM base WHERE key % 89 = 0
        |  UNION ALL
        |  SELECT CAST(-(key + 1) AS BIGINT), 'I', CAST(key * 100 AS BIGINT)
        |  FROM base WHERE key % 97 = 0)
        |SELECT CAST(coalesce(b.key, c.key) AS BIGINT) AS key,
        |       coalesce(b.bal_cents, 0) + coalesce(c.delta, 0) AS bal_cents,
        |       CASE WHEN c.op IS NULL THEN 'kept'
        |            WHEN c.op = 'I' THEN 'inserted'
        |            ELSE 'updated' END AS action
        |FROM base b FULL OUTER JOIN changes c ON b.key = c.key
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin,
    "q_schema_merge" ->
      """SELECT CAST(1 + o_orderkey % 2 AS INT) AS batch,
        |       count(*) AS n_orders,
        |       CAST(count(*) FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
        |         AS n_priced,
        |       CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |                THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |                ELSE 0 END) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1""".stripMargin,
    "q_xml_roundtrip" ->
      """SELECT p_brand,
        |       count(*) AS n_parts,
        |       CAST(sum(CAST(round(p_retailprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM part GROUP BY 1""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT l_returnflag,
        |       count(*) AS n_lines,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM lineitem WHERE l_quantity >= 25 GROUP BY 1""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT c_mktsegment,
        |       count(*) AS n_customers,
        |       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM customer GROUP BY 1""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY 1""".stripMargin)
}
