package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Dataset-introspection operators: heavy-hitter detection (sketch +
  * exact verify) and single-pass column profiling — the "look at your
  * 100 TB before you train on it" tools.
  */
object Profiling {

  /** Heavy hitters over the order stream's product column: Misra-Gries
    * candidates (one pass, O(k) state — see functions.HeavyHitters),
    * then an exact count of ONLY the candidate set, keeping items with
    * frequency > n/k. The MG recall guarantee makes the result equal to
    * the full-groupBy answer, but the heavy shuffle never happens —
    * only |candidates| ≤ k-1 keys are counted exactly. */
  def heavyEventTypes(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val mg = udaf(graft.functions.HeavyHitters.aggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    val ev = Tables.events(spark, dir).select(col("event_type").as("item"))
    // A fused sketch+total checkpoint was tried in r19 and reverted:
    // locally flat (the saved narrow scan ≈ the added materialization)
    // and it hides the MG ObjectHashAggregate from the plan guard that
    // pins the sketch's aggregation mode.
    val candidates = ev.agg(mg(col("item")).as("items"))
      .select(explode(col("items")).as("item"))
    val totals = ev.agg(count(lit(1)).as("total"))
    ev.join(broadcast(candidates), "item")
      .groupBy("item").agg(count(lit(1)).as("n_events"))
      .crossJoin(totals)
      .filter(col("n_events") > col("total").cast("double") / k)
      .select("item", "n_events")
  }

  /** Per-LANGUAGE token heavy hitters — the grouped form of the
    * Misra-Gries pattern: one MG sketch per language (groupBy + the
    * mergeable typed Aggregator, O(k) state per group per task), then
    * exact counts of the ≤ k−1 candidates only. The MG recall guarantee
    * holds per group — every token above total_lang/k survives the
    * sketch — so the exact-verified output EQUALS the full per-group
    * groupBy answer while the shuffle carries sketch blobs + candidate
    * rows, never the per-(lang, token) key space. Threshold compares
    * integers cross-multiplied (n_occ·k > total), engine-exact.
    *
    * Scale: the vocabulary (the unbounded key space) never shuffles;
    * per-language state is k entries regardless of corpus size — the
    * same reason the global q_heavy_hitters scales, now per group. */
  def langHeavyTokens(spark: SparkSession, dir: String, k: Int = 32): DataFrame = {
    val mg = udaf(graft.functions.HeavyHitters.aggregator(k),
      org.apache.spark.sql.Encoders.STRING)
    val words = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(lower(col("text")), "\\s+")).as("item"))
    // Sketch and per-lang totals FUSED into one aggregate and
    // checkpointed (|langs| rows, enum-bounded): the separate totals
    // branch re-ran the text scan + tokenize, and the exact recount
    // pass below is the only second pass Misra-Gries actually needs.
    val sketch = words.groupBy("lang")
      .agg(mg(col("item")).as("items"), count(lit(1)).as("total"))
      .localCheckpoint()
    val candidates = sketch.select(col("lang"), explode(col("items")).as("item"))
    val totals = sketch.select(col("lang"), col("total"))
    words.join(broadcast(candidates), Seq("lang", "item"))
      .groupBy("lang", "item").agg(count(lit(1)).as("n_occ"))
      .join(broadcast(totals), "lang")
      .filter(col("n_occ") * k > col("total"))
      .select("lang", "item", "n_occ")
  }

  /** KMV SKETCH TABLE (bottom-k min-values, Bar-Yossef et al.
    * RANDOM'02): per event_type, one mergeable sketch answers BOTH
    * approx-distinct-users ((k−1)·2⁴⁸ div h_k over 48-bit md5-derived
    * hashes — exact fallback when fewer than k distinct hashes exist)
    * and an approx value-median (the bottom-k by row hash is a uniform
    * row sample; lower median of its cents). Complements the sketch
    * family: HLL table (25f) merges distinct counts, Misra-Gries (25c)
    * heavy hitters, CMS (25g) frequencies, theta (25i) set algebra,
    * bitmap (25j) exact sets — KMV adds sample-based order statistics
    * from the same one-pass, O(k)-state, merge-order-independent
    * discipline. Because the sketch is a pure function of the item set
    * (bottom-k of a deterministic hash), the DuckDB oracle replays it
    * digit-exactly with rank-over-hash windows — unusual for an
    * approximate sketch, and the reason it's hash-checkable here.
    * Scale: per-group state is k longs regardless of input size; the
    * shuffle carries sketch blobs, never the user/row key space. */
  def kmvSketchTable(spark: SparkSession, dir: String, k: Int = 63): DataFrame = {
    import org.apache.spark.sql.Encoders
    val du = udaf(graft.functions.KmvSketch.distinctAgg(k), Encoders.scalaLong)
    val sv = udaf(graft.functions.KmvSketch.sampleAgg(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val ev = Tables.events(spark, dir).select(col("event_type"),
      expr("CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) AS BIGINT)")
        .as("hu"),
      expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 12), 16, 10) AS BIGINT)")
        .as("he"),
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    ev.groupBy("event_type")
      .agg(du(col("hu")).as("uh"), sv(col("he"), col("cents")).as("sc"))
      .select(col("event_type"),
        size(col("uh")).cast("long").as("n_kept"),
        expr("element_at(uh, size(uh))").as("kth_user_hash"),
        when(size(col("uh")) < k, size(col("uh")).cast("long"))
          .otherwise(expr(s"(${k - 1} * 281474976710656) div element_at(uh, $k)"))
          .as("distinct_users_est"),
        expr("element_at(sc, CAST((size(sc) + 1) div 2 AS INT))")
          .as("sample_median_cents"))
  }

  /** Per-(group, shard) retained-row capacity of the level-sampling
    * quantile sketch ([[quantileSketchOf]]). */
  private[graft] val QSketchK = 128L

  /** Shard count the quantile-sketch query merges over — 8, the top
    * 3 bits of the 32-bit digest slice (disjoint from the
    * trailing-zero level bits). */
  private[graft] val QSketchShards = 8

  /** The divisor that extracts the shard from h32 (`h32 div` this =
    * the top-bits shard id) — ONE definition shared by the Spark
    * builder and both DuckDB oracle strings, so the three sites cannot
    * silently desynchronize. */
  private[graft] val QSketchShardDiv: Long = (1L << 32) / QSketchShards

  /** Capacity for [[sketchRollup]] — small enough that the GLOBAL
    * grain's re-trim fires at every test SF (500 docs / 8 shards
    * already exceeds 8 per shard), so the merge algebra is
    * hash-checked, not just the build. */
  private[graft] val QSketchRollupK = 8L

  /** Trailing-zero count of a 32-bit value as engine SQL text —
    * Σ_{j=1..32} [h ≡ 0 mod 2ʲ] (h = 0 ⇒ 32): pure integer terms,
    * evaluated identically by Spark and the DuckDB oracle. */
  private[graft] def tzSql(h: String): String =
    (1 to 32).map(j => s"CAST($h % ${1L << j} = 0 AS INT)")
      .mkString("(", " + ", ")")

  /** LEVEL-SAMPLING QUANTILE SKETCH over (grp, event_id, cents) rows —
    * the mergeable, DETERMINISTIC quantile path (cf. the KLL lineage,
    * Karnin-Lang-Liberty FOCS'16; this is the classic level-sampling
    * ancestor those papers randomize): each row draws level
    * ℓ = trailing zeros of a 32-bit md5 hash (P[ℓ ≥ t] = 2⁻ᵗ); a shard
    * retains rows with ℓ ≥ t_s for the smallest t_s keeping ≤ k rows,
    * each representing 2^t_s originals; merging shards is
    * max-of-thresholds + refilter — associative, commutative, and a
    * pure function of the input SET, so unlike `percentile_approx`'s
    * engine-private sketch the estimate itself is hash-checkable and
    * the DuckDB oracle replays it digit-exactly. Estimated q-quantile =
    * the retained value whose cumulative weight first reaches
    * ⌈q·n_est⌉. Scale shape: per-(grp, shard) sketch state is a
    * 33-bucket level histogram + ≤ k rows regardless of input size;
    * every window here runs over sketch-sized data (a 100 TB run keeps
    * the per-shard retained rows from the same pass that builds the
    * histogram — this batch face re-derives them from the base table,
    * algebraically identical since {ℓ ≥ t*} ⊆ {ℓ ≥ t_s}). */
  /** Per-group merged threshold from (grp, shard, tz) rows: per-shard
    * smallest t with |{ℓ ≥ t}| ≤ k (from the 33-bucket level
    * histogram's suffix counts), max'd over shards. */
  private def thresholdsOf(rows: DataFrame, k: Long): DataFrame = {
    val lvl = rows.groupBy("grp", "shard", "tz").agg(count(lit(1)).as("c"))
    val sfx = lvl.withColumn("suffix", sum("c").over(
      Window.partitionBy("grp", "shard").orderBy(col("tz").desc)))
    sfx.groupBy("grp", "shard")
      .agg(coalesce(max(when(col("suffix") > k, col("tz"))) + lit(1L),
        lit(0L)).as("t_s"))
      .groupBy("grp").agg(max("t_s").cast("long").as("t_star"))
  }

  /** Build the per-group sketch: the retained rows {ℓ ≥ t*} with their
    * threshold — the persisted artifact a 100 TB run keeps. Columns:
    * (grp, cents, h32, event_id, shard, tz, t_star). */
  private[graft] def sketchRetained(e: DataFrame,
      k: Long = QSketchK): DataFrame = {
    // h32 sits behind the optimizer barrier: projection collapse would
    // otherwise inline the digest into each consumer — one digest per
    // row is the budget. The shard comes from h32's TOP 3 bits —
    // disjoint from the trailing-zero level, so one digest slice
    // serves both independently. tz is the isolate-lowest-set-bit
    // form (h32 & -h32 is a power of two; its exact log2 is
    // length(bin(·)) − 1) — r19, replacing the 32-term modulo sum
    // (tzSql, which the DuckDB oracle still replays: both compute the
    // same integer, Spark just pays O(1) per row instead of O(32)).
    val hashed = e.select(col("grp"),
      graft.functions.OptimizerBarrier(
        expr("CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)" +
          " AS BIGINT)")).as("h32"),
      col("cents"), col("event_id"))
      .withColumn("shard", expr(s"h32 div $QSketchShardDiv"))
      .withColumn("tz", expr(
        "CASE WHEN h32 = 0 THEN 32L" +
          " ELSE CAST(length(bin(h32 & -h32)) - 1 AS BIGINT) END"))
    hashed.join(broadcast(thresholdsOf(hashed, k)), "grp")
      .filter(col("tz") >= col("t_star"))
  }

  /** MERGE sketches to a coarser grain WITHOUT rescanning the data —
    * the roll-up algebra: relabel by the coarser grain, floor the
    * threshold at the max of the children's (discarded rows cannot
    * come back), then re-trim per shard if the union still exceeds k.
    * Because every child kept ALL its rows with ℓ ≥ floor, the merged
    * retained set is EXACTLY the from-scratch sketch of the coarser
    * grain at the merged threshold — merging loses nothing but the
    * chance of a lower t. Input/output shape = [[sketchRetained]]'s. */
  private[graft] def sketchRemerge(ret: DataFrame, grain: Column,
      k: Long = QSketchK): DataFrame = {
    val rel = ret.select(grain.as("grp"), col("cents"), col("h32"),
      col("event_id"), col("shard"), col("tz"), col("t_star").as("t_child"))
    val floor = rel.groupBy("grp").agg(max("t_child").as("t_floor"))
    val floored = rel.join(broadcast(floor), "grp")
      .filter(col("tz") >= col("t_floor"))
    floored.join(broadcast(thresholdsOf(floored, k)), "grp")
      .withColumn("t_star", greatest(col("t_star"), col("t_floor")))
      .filter(col("tz") >= col("t_star"))
      .select("grp", "cents", "h32", "event_id", "shard", "tz", "t_star")
  }

  /** Ceil-rank quantile estimates (p25/p50/p75) off a retained-rows
    * sketch. Sketch-sized input (≤ k·shards rows per group); every row
    * carries its group's t_star and n_ret, so the selector is an
    * explode + filter — one narrow stage, no params table, no join
    * (the original distinct + cross + equi-join chain cost 5.3 s at
    * sf0.1; this shape is ~1.5 s). */
  private[graft] def sketchEstimates(ret: DataFrame): DataFrame = {
    val rk = ret.select(col("grp"), col("cents"), col("t_star"),
      row_number().over(Window.partitionBy("grp")
        .orderBy("cents", "h32", "event_id")).cast("long").as("pos"),
      count(lit(1)).over(Window.partitionBy("grp")).as("n_ret"))
    rk.withColumn("q_pct", explode(array(lit(25L), lit(50L), lit(75L))))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(t_star AS INT))"))
      .withColumn("n_est", col("n_ret") * col("w"))
      .withColumn("pos_t",
        expr("((q_pct * n_est + 99) div 100 + w - 1) div w"))
      .filter(col("pos") === col("pos_t"))
      .select(col("grp"), col("q_pct"), col("t_star"),
        col("n_ret").as("n_retained"), col("n_est"),
        col("cents").as("est_cents"))
  }

  private[graft] def quantileSketchOf(e: DataFrame,
      k: Long = QSketchK): DataFrame =
    sketchEstimates(sketchRetained(e, k))

  /** The registered face of [[quantileSketchOf]] — per-event-type
    * estimated p25/p50/p75 of value cents via 8 merged per-shard
    * sketches, melted to one row per (type, q), with the HONESTY
    * columns a production run would skip: the estimate's exact rank in
    * the full data and its rank error in ppm (all exact-integer — no
    * floating quantile interpolation to diverge between engines). */
  def quantileSketchTable(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_type").as("grp"), col("event_id"),
      expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val est = quantileSketchOf(ev)
    ev.join(broadcast(est), "grp")
      .groupBy("grp", "q_pct", "t_star", "n_retained", "n_est", "est_cents")
      .agg(count(lit(1)).as("exact_n"),
        sum(when(col("cents") <= col("est_cents"), 1L).otherwise(0L))
          .as("exact_rank"))
      .select(col("grp").as("event_type"), col("q_pct"), col("t_star"),
        col("n_retained"), col("n_est"), col("est_cents"), col("exact_rank"),
        expr("abs(exact_rank * 1000000 div exact_n - q_pct * 10000)")
          .as("err_ppm"))
  }

  /** Threshold CTE chain over `in` (needs grp, shard, tz) → CTE `out`
    * with (grp, t_star) — the DuckDB mirror of [[thresholdsOf]]. */
  private def thCteSql(in: String, out: String,
      k: Long = QSketchK): String =
    s"""${out}_l AS (
       |  SELECT grp, shard, tz, count(*) AS c FROM $in GROUP BY 1, 2, 3),
       |${out}_s AS (
       |  SELECT grp, shard, tz,
       |         sum(c) OVER (PARTITION BY grp, shard ORDER BY tz DESC)
       |           AS suffix
       |  FROM ${out}_l),
       |$out AS (
       |  SELECT grp, CAST(max(t_s) AS BIGINT) AS t_star FROM (
       |    SELECT grp, shard,
       |           coalesce(max(CASE WHEN suffix > $k THEN tz END) + 1,
       |             0) AS t_s
       |    FROM ${out}_s GROUP BY 1, 2) ts_sub GROUP BY 1)""".stripMargin

  /** Roll-up CTE chain: retained rows of `in` relabelled by
    * `grainExpr`, threshold-floored at the children's max, re-trimmed
    * per shard → CTE `pfx` — the DuckDB mirror of [[sketchRemerge]]. */
  private def remergeCteSql(in: String, grainExpr: String, pfx: String,
      k: Long = QSketchK): String =
    s"""${pfx}_m AS (
       |  SELECT $grainExpr AS grp, cents, h32, event_id, shard, tz,
       |         t_star AS t_child
       |  FROM $in),
       |${pfx}_fl AS (
       |  SELECT grp, max(t_child) AS t_floor FROM ${pfx}_m GROUP BY 1),
       |${pfx}_f AS (
       |  SELECT m.grp, cents, h32, event_id, shard, tz, t_floor
       |  FROM ${pfx}_m m JOIN ${pfx}_fl fl ON m.grp = fl.grp
       |  WHERE tz >= t_floor),
       |${thCteSql(s"${pfx}_f", s"${pfx}_th", k)},
       |$pfx AS (
       |  SELECT f.grp, cents, h32, event_id, shard, tz,
       |         greatest(th.t_star, t_floor) AS t_star
       |  FROM ${pfx}_f f JOIN ${pfx}_th th ON f.grp = th.grp
       |  WHERE tz >= greatest(th.t_star, t_floor))""".stripMargin

  /** Estimate SELECT over a retained CTE — the DuckDB mirror of
    * [[sketchEstimates]], labelled with the grain level. */
  private def estSelectSql(in: String, label: String): String =
    s"""SELECT '$label' AS level, grp AS grain, q.q_pct, t_star,
       |       n_ret AS n_retained, n_ret * w AS n_est, cents AS est_tokens
       |FROM (
       |  SELECT grp, cents, t_star,
       |         row_number() OVER (PARTITION BY grp
       |           ORDER BY cents, h32, event_id) AS pos,
       |         count(*) OVER (PARTITION BY grp) AS n_ret,
       |         (CAST(1 AS BIGINT) << CAST(t_star AS INT)) AS w
       |  FROM $in) rk
       |CROSS JOIN (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS q_pct) q
       |WHERE pos = ((q_pct * n_ret * w + 99) // 100 + w - 1) // w""".stripMargin

  /** HIERARCHICAL SKETCH ROLL-UP — the grouping-sets-of-sketches
    * pattern that makes sketching pay at 100 TB: the corpus is scanned
    * ONCE to build token-count quantile sketches at the finest grain
    * (source, lang); the source grain and the global grain are then
    * derived by MERGING the sketch rows ([[sketchRemerge]]: threshold
    * floor + per-shard re-trim), never by rescanning. The registered
    * face emits p25/p50/p75 estimates at all three grains with
    * k = [[QSketchRollupK]] — sized so at EVERY test SF the fine
    * sketches fit untrimmed (t* = 0) while the global grain genuinely
    * re-trims (t* > 0): the merge path, not just the build path, is
    * what the oracle hash-checks. The fine sketch
    * is localCheckpointed: it is the ≤ k·shards·|grains|-row artifact
    * the three grain chains share (and what a production run persists
    * next to the corpus). */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    // The tokenize projection (regex split over every document) is the
    // dominant per-row cost and sketchRetained consumes its input
    // TWICE (threshold histogram + retained-row probe — the batch
    // face's documented re-derive). Checkpointing the NARROW
    // (grp, id, token-count) projection — never the text — makes the
    // tokenize a single pass (r19). At 100 TB this intermediate is the
    // per-doc stats table a pipeline persists anyway.
    val docs = Tables.documents(spark, dir).select(
      concat(col("source"), lit(":"), col("lang")).as("grp"),
      col("doc_id").as("event_id"),
      size(split(lower(col("text")), "\\s+")).cast("long").as("cents"))
      .localCheckpoint()
    val fine = sketchRetained(docs, QSketchRollupK).localCheckpoint()
    val fineE = sketchEstimates(fine).withColumn("level", lit("source:lang"))
    val srcE = sketchEstimates(
      sketchRemerge(fine, expr("split(grp, ':')[0]"), QSketchRollupK))
      .withColumn("level", lit("source"))
    // The global label sits behind the barrier so FoldablePropagation
    // cannot inline it and strip `grp` from the estimate windows'
    // partitionSpec (they would read as unpartitioned-over-unbounded to
    // the PlanRegressionSpec window guard; the input is really the
    // ≤ k·shards-row sketch, but keeping the partition key is free and
    // keeps the guard strict).
    val allE = sketchEstimates(sketchRemerge(fine,
      graft.functions.OptimizerBarrier(lit("ALL")), QSketchRollupK))
      .withColumn("level", lit("all"))
    fineE.unionByName(srcE).unionByName(allE)
      .select(col("level"), col("grp").as("grain"), col("q_pct"),
        col("t_star"), col("n_retained"), col("n_est"),
        col("est_cents").as("est_tokens"))
  }

  /** Single-pass column profile of the customer table: null count and
    * distinct count per column, melted to one row per column with
    * `stack`. Spark scans the table once for all five columns; the
    * oracle pays five scans — the point of a columnar profiler. */
  def customerProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"nd_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"))
    }
    val stackArgs = cols.map(c => s"'$c', nd_$c, nn_$c").mkString(", ")
    Tables.customer(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${cols.size}, $stackArgs) AS (col_name, n_distinct, n_nulls)")
  }

  /** Power-of-two document-length histogram — the corpus shape summary
    * every training-mix decision starts from. The bucket is the integer
    * log2 computed exactly as binary-representation length (no libm,
    * so engines can't disagree); bounds are exact shifts. */
  def docLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((length(expr("bin(n_chars)")) - 1).cast("int").as("log2_bucket"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("log2_bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), log2_bucket)").as("bucket_lo"),
        expr("shiftleft(CAST(1 AS BIGINT), log2_bucket + 1) - 1").as("bucket_hi"),
        col("n_docs"))

  /** Exact equi-depth (equi-height) histogram of order totals — the
    * optimizer-statistics primitive (selectivity estimation wants equal
    * mass per bucket, not equal width). The naive form is `ntile` over
    * one global sort, i.e. a single-partition WindowExec pulling the
    * whole fact table through one task — a scale killer. Here the exact
    * global rank is computed DISTRIBUTED instead: `repartitionByRange`
    * on the total order (integer cents, orderkey tiebreak → unique key,
    * bit-deterministic ranks), per-range-partition counts roll up to a
    * broadcast table of cumulative offsets (one tiny row per partition),
    * and bucket membership is the closed-form ntile arithmetic on
    * `offset + local row_number`. Identical answer to the oracle's
    * `ntile(10)`; every stage over the fact table stays partitioned.
    * The streaming/approximate sibling is `q_approx_percentile`. */
  def equidepthHistogram(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame =
    equidepthOf(
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("price_cents")),
      valueCol = "price_cents", keyCol = "o_orderkey", buckets = buckets)

  /** Distributed exact ntile histogram over (valueCol, keyCol) — keyCol
    * must make the sort key unique so global ranks are well-defined.
    * Shape: range shuffle (balanced) → P-row count aggregate → broadcast
    * offsets join → per-partition window rank → final groupBy. No
    * unpartitioned window anywhere in the plan. */
  private[graft] def equidepthOf(input: DataFrame, valueCol: String,
      keyCol: String, buckets: Int, parts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Range-partition count derived from the session (scale-adaptive,
    // not a local constant — see Packing.derivedParts).
    val nParts = Packing.derivedParts(input, parts)
    // Materialized — one partitioning for all three consumers (see
    // Packing.withGlobalCumsum's ranged checkpoint for the failure
    // mode this prevents).
    val ranged = input
      .repartitionByRange(nParts, col(valueCol), col(keyCol))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // Per-partition counts: `parts` rows, tiny whatever the table size.
    // Prefix sums over that table come from a broadcast triangular join
    // (≤ parts² comparisons) rather than a global window, so the whole
    // operator plans ZERO unpartitioned WindowExecs — the bench log
    // stays free of single-partition-window warnings.
    val counts = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("n"))
    val offs = counts
      .join(broadcast(counts.select(col("pid").as("bpid"),
        col("cnt").as("bcnt"))), col("bpid") < col("pid"), "left")
      .groupBy("pid")
      .agg(coalesce(sum("bcnt"), lit(0L)).as("off"))
      .crossJoin(total)
      .select(col("pid"), col("off"), col("n"))
    val localW = Window.partitionBy("pid").orderBy(col(valueCol), col(keyCol))
    ranged
      .withColumn("lrk", row_number().over(localW).cast("long"))
      .join(broadcast(offs), "pid")
      // 0-based exact global rank (range partitions are ordered, so
      // offset + local rank IS the global sort position), then the
      // closed-form ntile: the first n%b buckets take (n div b)+1 rows,
      // the rest n div b. All-integer → engine-exact.
      .selectExpr(valueCol, "off + lrk - 1 AS rk0",
        s"n div $buckets AS q", s"n % $buckets AS r")
      .selectExpr(valueCol,
        "CAST(CASE WHEN rk0 < r * (q + 1) THEN rk0 div (q + 1) " +
          "ELSE r + (rk0 - r * (q + 1)) div q END + 1 AS INT) AS bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min(valueCol).as("lo_cents"),
        max(valueCol).as("hi_cents"))
  }

  /** Per-SOURCE exact equi-depth histogram of document token counts —
    * the per-feed length-distribution profile a mixture designer reads
    * before weighting sources. Grouped generalization of
    * [[equidepthOf]]: `ntile PARTITION BY source` has the same scale
    * trap as the global form when one source dominates (its whole
    * partition lands on one WindowExec task), so the exact per-group
    * rank is computed distributed instead — see [[groupedEquidepthOf]].
    */
  def sourceLengthDeciles(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame =
    groupedEquidepthOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens")),
      groupCol = "source", valueCol = "n_tokens", keyCol = "doc_id",
      buckets = buckets)

  /** Distributed exact per-GROUP ntile. Ranging on (group, value, key)
    * keeps every group contiguous across the ordered partitions, so the
    * per-(partition, group) counts — at most parts × |groups| tiny rows
    * — broadcast into same-group prefix offsets exactly like the global
    * form, and the only window is partitioned by (pid, group). This
    * shape is safe BOTH ways a `PARTITION BY group` window dies at
    * scale: many tiny groups (fine either way) and one giant group
    * (which would otherwise serialize through a single task). */
  private[graft] def groupedEquidepthOf(input: DataFrame, groupCol: String,
      valueCol: String, keyCol: String, buckets: Int,
      parts: Int = 0): DataFrame =
    withGroupedRank(input, groupCol, valueCol, keyCol, parts)
      .selectExpr(groupCol, valueCol, "rk0",
        s"n div $buckets AS q", s"n % $buckets AS r")
      .selectExpr(groupCol, valueCol,
        "CAST(CASE WHEN rk0 < r * (q + 1) THEN rk0 div (q + 1) " +
          "ELSE r + (rk0 - r * (q + 1)) div q END + 1 AS INT) AS bucket")
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(valueCol).as("lo_tokens"),
        max(valueCol).as("hi_tokens"))

  /** Exact 0-based per-GROUP rank (`rk0`) and group size (`n`) for
    * every input row, computed distributed — range on (group, value,
    * key), per-(partition, group) counts, broadcast same-group prefix
    * offsets, (pid, group)-partitioned local window. keyCol must make
    * (group, value, key) unique. The row-level primitive under the
    * grouped equi-depth histogram and the trimmed group stats. */
  private[graft] def withGroupedRank(input: DataFrame, groupCol: String,
      valueCol: String, keyCol: String, parts: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nParts = Packing.derivedParts(input, parts)
    // Materialized for the same reason as Packing.withGlobalCumsum's
    // ranged checkpoint: three consumers must see ONE partitioning, and
    // exchange reuse is not guaranteed once pruning diverges — without
    // this the per-(pid, group) counts can come from a different range
    // sampling than the window they offset.
    val ranged = input
      .repartitionByRange(nParts, col(groupCol), col(valueCol), col(keyCol))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val counts = ranged.groupBy("pid", groupCol).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(groupCol).agg(sum("cnt").as("n"))
    val offs = counts
      .join(broadcast(counts.select(col("pid").as("bpid"),
        col(groupCol).as("bgrp"), col("cnt").as("bcnt"))),
        col("bpid") < col("pid") && col("bgrp") === col(groupCol), "left")
      .groupBy("pid", groupCol)
      .agg(coalesce(sum("bcnt"), lit(0L)).as("off"))
      .join(broadcast(totals), groupCol)
    val localW = Window.partitionBy(col("pid"), col(groupCol))
      .orderBy(col(valueCol), col(keyCol))
    ranged
      .withColumn("lrk", row_number().over(localW).cast("long"))
      .join(broadcast(offs), Seq("pid", groupCol))
      .withColumn("rk0", col("off") + col("lrk") - 1)
      .drop("pid", "lrk", "off")
  }

  /** TRIMMED per-group price statistics (robust mean): per brand, drop
    * the bottom and top decile of part prices by exact per-group rank
    * and report the interior's exact integer mean in micro-cents — the
    * outlier-robust aggregate (a winsorized/trimmed mean) computed
    * without any `PARTITION BY brand` window over the raw rows; rides
    * [[withGroupedRank]]. DECIMAL(38) sum before the integral divide
    * keeps the micro-unit mean overflow-proof at any scale factor.
    */
  def trimmedPriceStats(spark: SparkSession, dir: String): DataFrame =
    withGroupedRank(
      Tables.part(spark, dir)
        .select(col("p_brand"), col("p_partkey"),
          round(col("p_retailprice") * 100, 0).cast("long").as("cents")),
      groupCol = "p_brand", valueCol = "cents", keyCol = "p_partkey")
      .filter(col("rk0") >= expr("n div 10") &&
        col("rk0") < expr("n - n div 10"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_kept"),
        sum("cents").as("sum_cents"),
        min("cents").as("lo_cents"),
        max("cents").as("hi_cents"))
      .withColumn("mean_microcents",
        expr("CAST(sum_cents AS DECIMAL(38,0)) * 1000000 div n_kept"))

  /** WINSORIZED per-brand mean — the robust-mean variant that CLIPS
    * at the exact P10/P90 order statistics instead of dropping the
    * tails ([[trimmedPriceStats]] drops; winsorizing keeps n constant,
    * which grouped comparisons across brands need). Bounds are exact
    * ranked rows (integer cents + partkey tiebreak, both engines pick
    * the same row) from the same distributed range-shuffle rank pass;
    * the clip is a broadcast join of the per-brand bound pair back to
    * the raw rows. */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"))
    // ONE rank pass (r19): the r18 shape filtered the ranked table
    // twice (lo, hi) and each broadcast consumer re-ran the whole
    // distributed rank pass. Both bound rows survive one filter; the
    // conditional mins pick each out (a row can satisfy both when the
    // group is tiny — then lo = hi, exactly as the two-filter form).
    val bounds = withGroupedRank(t, "p_brand", "cents", "p_partkey")
      .filter(col("rk0") === expr("n div 10") ||
        col("rk0") === expr("n - n div 10 - 1"))
      .groupBy("p_brand")
      .agg(min(when(col("rk0") === expr("n div 10"), col("cents")))
          .as("lo_cents"),
        min(when(col("rk0") === expr("n - n div 10 - 1"), col("cents")))
          .as("hi_cents"))
    t.join(broadcast(bounds), "p_brand")
      .select(col("p_brand"), col("lo_cents"), col("hi_cents"),
        greatest(col("lo_cents"), least(col("hi_cents"), col("cents")))
          .as("w"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("w").as("sum_wcents"),
        max("lo_cents").as("lo_cents"), max("hi_cents").as("hi_cents"))
      .withColumn("mean_microcents",
        expr("CAST(sum_wcents AS DECIMAL(38,0)) * 1000000 div n"))
  }

  /** MAD-GATE ANOMALY DETECTION on daily per-type revenue — the
    * robust outlier flag beside the exact-2σ gate (a σ gate is itself
    * dragged by the outliers it hunts; median/MAD has a 50% breakdown
    * point). Exact lower medians via two [[withGroupedRank]] passes
    * (the madPrices composition applied to the time series), flag =
    * \|x − med\| > 3·MAD in pure integer cents. Emits EVERY day with
    * its deviation and flag (not just hits) so the report replays and
    * the base-rate is visible. */
  def madAnomalies(spark: SparkSession, dir: String): DataFrame = {
    // The daily table is CALENDAR-bounded (days × types), so plain
    // type-partitioned windows are the right rank machinery here —
    // the distributed-rank passes madPrices needs for data-sized
    // groups would cost two range shuffles for nothing (measured
    // 2.6 s → 0.6 s at sf0.1).
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("ts div 86400000000000").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day").agg(sum("cents").as("rev"))
      .localCheckpoint() // feeds median pass, dev pass, and the report
    def lowerMedian(in: DataFrame, v: String, as: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(v), col("day"))
      val wn = Window.partitionBy("event_type")
      in.withColumn("rk0", row_number().over(w) - 1)
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rk0") === expr("(n - 1) div 2"))
        .select(col("event_type"), col(v).as(as))
    }
    val med = lowerMedian(daily, "rev", "med")
    val dev = daily.join(broadcast(med), "event_type")
      .select(col("event_type"), col("day"), col("rev"), col("med"),
        abs(col("rev") - col("med")).as("dev"))
    val mad = lowerMedian(
      dev.select(col("event_type"), col("day"), col("dev")), "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("rev"), col("med"),
        col("mad"), (col("dev") > col("mad") * 3).as("is_anomaly"))
  }

  /** Per-brand median and MAD (median absolute deviation) of part
    * prices — the robust dispersion pair (median, MAD) next to the
    * trimmed mean, computed EXACTLY at scale by composing
    * [[withGroupedRank]] twice: the per-group lower median is the row
    * at exact rank (n−1) div 2 (integer cents + partkey tiebreak, so
    * both engines pick the same row — no even-count float midpoint),
    * deviations join back on the group key, and the MAD is the same
    * rank filter over |x − median|. No `PARTITION BY brand` window
    * ever sees the raw rows; both rank passes are the distributed
    * range-shuffle + broadcast-offset form. */
  def madPrices(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_brand").as("brand"), col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"))
    // med is |brands| rows consumed TWICE (the deviation join and the
    // report join) — un-materialized, the whole first distributed rank
    // pass re-ran for each consumer (r19). Checkpoint the bounded
    // table and pin the broadcasts its stats-less LogicalRDD loses.
    val med = withGroupedRank(p, "brand", "cents", "p_partkey")
      .filter(col("rk0") === expr("(n - 1) div 2"))
      .select(col("brand"), col("cents").as("med_cents"))
      .localCheckpoint()
    val dev = p.join(broadcast(med), "brand")
      .select(col("brand"), col("p_partkey"),
        abs(col("cents") - col("med_cents")).as("dev"))
    withGroupedRank(dev, "brand", "dev", "p_partkey")
      .filter(col("rk0") === expr("(n - 1) div 2"))
      .join(broadcast(med), "brand")
      .select(col("brand"), col("med_cents"), col("dev").as("mad_cents"),
        col("n").as("n_parts"))
  }

  /** Mergeable-sketch architecture: per-(event_type, day) HLL sketches
    * (Datasketches blobs — what a 100 TB pipeline persists as its
    * pre-aggregated sketch table), then a union per event_type and one
    * estimate. The raw stream is touched once per day at ingest; every
    * later rollup works off KB-sized sketches — the incremental
    * analytics shape exact distinct cannot give. Emits the exact count
    * plus an estimate-in-bounds flag (the sketch blob itself is not
    * cross-engine-replayable; the bound check is the oracle contract,
    * same pattern as q_approx_distinct_users). */
  def distinctUsersMergeable(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("ts div 86400000000000").as("day"))
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_distinct"))
    merged.join(exact, "event_type")
      .select(col("event_type"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05 + lit(16)).as("estimate_in_bounds"))
  }

  /** ROLLING 7-day distinct users from the DAILY sketch table — the
    * overlapping-window payoff of mergeable sketches: raw events are
    * touched ONCE (one partial-aggregated pass into |days|×|types| HLL
    * blobs); every 7-day window is then a union of 7 KB-sized sketches,
    * so N overlapping windows cost N·7 blob merges instead of N full
    * distinct-counts over 7× re-scanned data. At 100 TB the daily
    * sketch table IS the materialized artifact (appended daily, never
    * recomputed) and this query never reads the fact table at all.
    * Windows are reported for observed (type, day) keys only; the
    * exact rolling distinct and the ±5%+16 bound flag make the
    * approximate path oracle-checkable, same contract as
    * [[distinctUsersMergeable]]. */
  def rollingDistinctUsers(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        expr("ts div 86400000000000").as("day"))
    // Checkpointed: the sketch table is |types|×|days| rows (KB-sized,
    // calendar-/enum-bounded forever) but building it is a full
    // events-scan HLL aggregate, and it has THREE consumers (est's
    // sketch side, and dayKeys probed from both branches) — without
    // the materialization each re-runs the scan+sketch pass. The
    // bounded joins are broadcast-PINNED because the checkpoint strips
    // stats (the r18 loop-pin discipline).
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .localCheckpoint()
    val dayKeys = daily.select(col("event_type"), col("day").as("wday"))
    val est = daily
      .select(col("event_type"), col("sk"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("wday"))
      .join(broadcast(dayKeys), Seq("event_type", "wday"))
      .groupBy("event_type", "wday")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = ev.distinct()
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("wday"))
      .join(broadcast(dayKeys), Seq("event_type", "wday"))
      .groupBy("event_type", "wday")
      .agg(countDistinct("user_id").as("exact_rolling"))
    exact.join(broadcast(est), Seq("event_type", "wday"))
      .select(col("event_type"), col("wday").as("day"),
        col("exact_rolling"),
        (abs(col("est") - col("exact_rolling")) <=
          col("exact_rolling") * 0.05 + lit(16)).as("estimate_in_bounds"))
  }

  /** Theta-sketch SET ALGEBRA over user audiences — the sketch family
    * that, unlike HLL, supports intersection and difference: "users who
    * clicked AND purchased" over 100 TB is a merge of two KB-sized
    * sketches, not a distinct-join of two fact scans. Per-event_type
    * theta sketches are built in one pass (mergeable → pre-aggregable
    * into the same sketch-table architecture as
    * [[distinctUsersMergeable]]); union / intersection / difference
    * estimates for the (click, purchase) audience pair are then checked
    * against the exact set algebra the small SF can still afford. The
    * sketch blob is not cross-engine-replayable, so the oracle contract
    * is the exact counts plus the estimate-in-bounds flag (±5% + slack
    * — theta at default lgK=12 is ~±1.6% at 3σ for these
    * cardinalities). */
  def thetaAudience(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("user_id"))
    val sk = ev.groupBy("event_type")
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val pair = sk.filter(col("event_type") === "click")
      .select(col("sk").as("cs"))
      .crossJoin(broadcast(sk.filter(col("event_type") === "purchase")
        .select(col("sk").as("ps"))))
    val ests = pair.select(
      expr("theta_sketch_estimate(theta_union(cs, ps))").as("est_union"),
      expr("theta_sketch_estimate(theta_intersection(cs, ps))").as("est_inter"),
      expr("theta_sketch_estimate(theta_difference(cs, ps))").as("est_diff"))
    val exact = ev.groupBy("user_id")
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      .agg(count(lit(1)).as("ex_union"),
        sum(col("c") * col("p")).as("ex_inter"),
        sum(col("c") * (lit(1) - col("p"))).as("ex_diff"))
    exact.crossJoin(broadcast(ests))
      .select(explode(array(
        struct(lit("union").as("op"), col("ex_union").as("exact_count"),
          (abs(col("est_union") - col("ex_union")) <=
            col("ex_union") * 0.05 + lit(16)).as("estimate_in_bounds")),
        struct(lit("intersection").as("op"), col("ex_inter").as("exact_count"),
          (abs(col("est_inter") - col("ex_inter")) <=
            col("ex_inter") * 0.05 + lit(16)).as("estimate_in_bounds")),
        struct(lit("difference").as("op"), col("ex_diff").as("exact_count"),
          (abs(col("est_diff") - col("ex_diff")) <=
            col("ex_diff") * 0.05 + lit(16)).as("estimate_in_bounds"))))
        .as("r"))
      .select(col("r.op"), col("r.exact_count"), col("r.estimate_in_bounds"))
  }

  /** EXACT distributed AUC (Mann-Whitney U / rank statistic) — the
    * model-evaluation primitive, computed without a single-partition
    * sort and without floats until the final micro-unit division:
    * scores collapse to a per-distinct-score (count, positives) table,
    * the distributed exact cumsum ([[Packing.withGlobalCumsum]]) gives
    * each score's rank offset, ties take the standard midrank (kept
    * integral by working in doubled ranks), and
    * AUC = (Σ midrank₂(pos) − n₊(n₊+1)) / (2·n₊·n₋) floors to
    * micro-units in DECIMAL(38) — engine-exact, so two eval runs can
    * never report different AUCs for the same data. Here: how well
    * `value` separates purchases from other events. */
  /** Persisted per-distinct-score rank table (score_cents, n, n_pos,
    * cum_before) — the SHARED substrate of [[aucPurchase]] and
    * [[calibrationTable]]: both queries start from the identical
    * grouped-score cumsum, so it is computed once per corpus (an eval
    * pipeline materializes the score ranks once and derives every rank
    * statistic from the artifact). */
  private[graft] val ScoreCum = graft.Indexes.Artifact("score-cum") {
    (spark, dir, out) =>
      val grouped = Tables.events(spark, dir)
        .select(round(col("value") * 100, 0).cast("long").as("score_cents"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
        .groupBy("score_cents")
        .agg(count(lit(1)).as("n"), sum("label").as("n_pos"))
      Packing.withGlobalCumsum(grouped, "n", Seq("score_cents"))
        .select(col("score_cents"), col("n"), col("n_pos"), col("cum_before"))
        .write.mode("overwrite").parquet(out)
  }

  private def scoreCum(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ScoreCum.path(spark, dir))

  def aucPurchase(spark: SparkSession, dir: String): DataFrame = {
    scoreCum(spark, dir)
      // doubled midrank of every item at this score: 2·cum_before + n + 1
      .select(((col("cum_before") * 2 + col("n") + 1) * col("n_pos"))
        .as("rank2_pos"), col("n_pos"), (col("n") - col("n_pos")).as("n_neg"))
      .agg(sum("rank2_pos").as("sum_rank2"), sum("n_pos").as("np"),
        sum("n_neg").as("nn"))
      .select(
        expr("CAST(sum_rank2 - np * (np + 1) AS DECIMAL(38,0)) * 1000000" +
          " div (2 * np * nn)").as("auc_micro"),
        col("np").as("n_pos"), col("nn").as("n_neg"))
  }

  /** Calibration / reliability table, AUC's reporting sibling: score
    * deciles → (n, positives, rate in exact micro-units). Tied scores
    * stay TOGETHER — each distinct-score group lands in the decile of
    * its first global rank (floor(10·cum_before/N)), a deterministic
    * closed form on the same distributed cumsum, where a row-level
    * `ntile` would split tied rows arbitrarily and differently per
    * engine. */
  def calibrationTable(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    val cum = scoreCum(spark, dir)
    val tot = cum.agg(sum("n").as("total"))
    cum.crossJoin(tot)
      .selectExpr("score_cents", "n", "n_pos",
        s"CAST(($buckets * cum_before) div total AS INT) AS bucket")
      .groupBy("bucket")
      .agg(sum("n").as("n"), sum("n_pos").as("n_pos"),
        min("score_cents").as("lo_cents"), max("score_cents").as("hi_cents"))
      .selectExpr("bucket", "n", "n_pos", "lo_cents", "hi_cents",
        "CAST(CAST(n_pos AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)" +
          " AS pos_rate_micro")
  }

  /** ISOTONIC CALIBRATION (pool-adjacent-violators) on the reliability
    * bins — the FIX beside [[calibrationTable]]'s diagnosis: the
    * monotone-nondecreasing calibrated rate per score bucket, via the
    * closed-form PAV identity ŷ_i = max_{j≤i} min_{k≥i} rate(j..k)
    * (every pooled-range rate floored to micro FIRST, then min/max —
    * deterministic in both engines; the floor changes a pooled rate by
    * < 1 micro, which is the documented tolerance). The entire
    * computation after the shared bins runs on ≤ B³ rows with B = 10
    * buckets — corpus-size-independent bounded algebra, the Shapley
    * discipline. Output is monotone by construction, which the oracle
    * hash check enforces structurally.
    *
    * Plan/scale shape: the [[calibrationTable]] pipeline (histogram +
    * cumsum artifact) → 10-row bins (checkpointed) → range/min/max
    * joins on bounded rows → 10 rows out. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val bins = calibrationTable(spark, dir)
      .select(col("bucket"), col("n"), col("n_pos"))
      .localCheckpoint()
    val ranges = bins.select(col("bucket").as("j"))
      .crossJoin(bins.select(col("bucket").as("k")))
      .filter(col("j") <= col("k"))
      .join(bins, col("bucket").between(col("j"), col("k")))
      .groupBy("j", "k")
      .agg(expr("CAST(sum(n_pos) * 1000000 div sum(n) AS BIGINT)")
        .as("rate_micro"))
    val iso = bins.select(col("bucket").as("i"))
      .join(ranges, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min("rate_micro").as("mn"))
      .groupBy("i").agg(max("mn").as("iso_micro"))
    bins.join(iso, col("bucket") === col("i"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("CAST(n_pos * 1000000 div n AS BIGINT)").as("raw_micro"),
        col("iso_micro"))
  }

  /** BRIER SCORE of the isotonic-calibrated classifier — the proper
    * scoring rule closing the calibration family (table = diagnosis,
    * PAV = fix, Brier = did the fix produce a good probability
    * model): every score row is scored with its bucket's calibrated
    * probability p and the exact decomposition
    * Σ [n_pos·(10⁶−p)² + (n−n_pos)·p²] / (N·10¹²) is one DECIMAL(38)
    * rational in micro units. The CLIMATOLOGY baseline (constant
    * global rate p₀) rides along — Brier below baseline is the actual
    * skill claim. Everything after the shared score-cum artifact is
    * bucket-bounded algebra. */
  def brierCalibrated(spark: SparkSession, dir: String): DataFrame = {
    val cum = scoreCum(spark, dir)
    val tot = cum.agg(sum("n").as("total"))
    val rows = cum.crossJoin(tot)
      .selectExpr("n", "n_pos",
        "CAST((10 * cum_before) div total AS INT) AS bucket")
    val iso = isotonicCalibration(spark, dir)
      .select(col("bucket"), col("iso_micro"))
    rows.join(broadcast(iso), "bucket")
      .agg(sum("n").as("n"), sum("n_pos").as("np"),
        sum(expr("CAST(n_pos AS DECIMAL(38,0))" +
          " * (1000000 - iso_micro) * (1000000 - iso_micro)" +
          " + CAST(n - n_pos AS DECIMAL(38,0))" +
          " * iso_micro * iso_micro")).as("num"))
      .selectExpr("n", "np",
        "CAST(num div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)" +
          " AS brier_micro",
        "CAST(CAST(np AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)" +
          " AS p0_micro")
      .selectExpr("CAST(n AS BIGINT) AS n", "brier_micro", "p0_micro",
        "CAST((CAST(np AS DECIMAL(38,0))" +
          " * (1000000 - p0_micro) * (1000000 - p0_micro)" +
          " + CAST(n - np AS DECIMAL(38,0)) * p0_micro * p0_micro)" +
          " div (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)" +
          " AS brier0_micro")
  }

  /** HEAVY-HITTER DRIFT: today's top-k vs yesterday's — the CHANGE
    * report a monitoring surface actually pages on (a new entrant in
    * the top talkers, a leaver, a rank jump), here as the top-10
    * heaviest USERS of the first half of the event span vs the second
    * (split at the midpoint epoch-day, broadcast from a 1-row min/max
    * aggregate — deterministic, calendar-free). Exact counts; ties
    * broken (count desc, user asc) so both engines pick identical
    * top-k sets. At 100 TB the per-period counts come from the daily
    * pre-aggregate (or the mergeable MG sketches of 25c/25n) — the
    * drift join itself always runs on 2k post-aggregate rows.
    *
    * Plan: one scan → (user, period) map-side-combined aggregate →
    * per-period rank over the post-agg table → k-row sets full-outer
    * joined on user; status is a pure projection. */
  def heavyHitterDrift(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val day = 86400000000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"ts div ${day}L").as("d"))
    val span = ev.agg(min("d").as("lo"), max("d").as("hi"))
    val counted = ev.crossJoin(span)
      .selectExpr("user_id",
        "CASE WHEN d < (lo + hi + 1) div 2 THEN 0 ELSE 1 END AS period")
      .groupBy("user_id", "period").agg(count(lit(1)).as("cnt"))
    def topOf(p: Int) = counted.filter(col("period") === p)
      .orderBy(col("cnt").desc, col("user_id")).limit(k)
      .withColumn(s"rank_p$p",
        row_number().over(Window.orderBy(col("cnt").desc, col("user_id"))))
      .select(col("user_id"), col("cnt").as(s"cnt_p$p"), col(s"rank_p$p"))
    topOf(0).join(topOf(1), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("rank_p0").isNull, "entered")
          .when(col("rank_p1").isNull, "left")
          .otherwise("stayed").as("status"),
        coalesce(col("cnt_p0"), lit(0L)).as("cnt_p0"),
        coalesce(col("cnt_p1"), lit(0L)).as("cnt_p1"),
        coalesce(col("rank_p0"), lit(0)).as("rank_p0"),
        coalesce(col("rank_p1"), lit(0)).as("rank_p1"))
  }

  /** PRECISION-RECALL OPERATING POINTS — AUC's deployment-side sibling:
    * for the decision rule "flag when score ≥ T", the exact confusion
    * counts (tp/fp/fn) and precision / recall / F1 in integer
    * micro-units at each score-DECILE threshold. AUC says whether the
    * score ranks well; this table says what happens at the thresholds
    * you could actually ship. Tied scores stay together (a threshold
    * can only sit at a distinct score value), and each decile's
    * operating point is the FIRST distinct-score group of that decile
    * — the same deterministic closed form as [[calibrationTable]], so
    * the two reports describe the same cut points.
    *
    * Plan: served from the build-once [[ScoreCum]] artifact (the
    * same parquet AUC and calibration read); one extra fused
    * distributed cumsum of positives over the distinct-score table
    * (post-aggregate size, never the event stream), a broadcast 1-row
    * total, and a |buckets|-row min-struct aggregate. All rationals
    * are DECIMAL(38) cross-multiplications — bit-reproducible. */
  def prPoints(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    val cum = scoreCum(spark, dir)
    val tot = cum.agg(sum("n").as("total"), sum("n_pos").as("p_total"))
    Packing.withGlobalCumsums(cum, Seq("n_pos" -> "cumpos_before"),
        Seq("score_cents"))
      .crossJoin(tot)
      .selectExpr("score_cents", "cum_before",
        s"CAST(($buckets * cum_before) div total AS INT) AS bucket",
        "total - cum_before AS n_ge",
        "p_total - cumpos_before AS tp",
        "(total - cum_before) - (p_total - cumpos_before) AS fp",
        "cumpos_before AS fn",
        "p_total")
      .groupBy("bucket")
      .agg(min(struct(col("cum_before"), col("score_cents"), col("n_ge"),
        col("tp"), col("fp"), col("fn"), col("p_total"))).as("s"))
      .selectExpr("bucket", "s.score_cents AS threshold_cents",
        "s.n_ge AS n_ge", "s.tp AS tp", "s.fp AS fp", "s.fn AS fn",
        "CAST(CAST(s.tp AS DECIMAL(38,0)) * 1000000 div s.n_ge AS BIGINT)" +
          " AS precision_micro",
        "CAST(CAST(s.tp AS DECIMAL(38,0)) * 1000000 div s.p_total AS BIGINT)" +
          " AS recall_micro",
        "CAST(CAST(2 AS DECIMAL(38,0)) * s.tp * 1000000" +
          " div (2 * s.tp + s.fp + s.fn) AS BIGINT) AS f1_micro")
  }

  /** Build-once (price_cents → count) VALUE HISTOGRAM of orders as
    * parquet — the artifact [[scriptMedianSearch]]'s probes scan. At
    * 100 TB this turns ~26 binary-search probes × full fact scan into
    * ONE fact scan (the histogram build, ≤ |distinct prices| rows out)
    * plus 26 probes of the tiny histogram. */
  private[graft] val PriceHist = graft.Indexes.Artifact("price-hist") {
    (spark, dir, out) =>
      Tables.orders(spark, dir)
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("pc"))
        .groupBy("pc").agg(count(lit(1)).as("c"))
        // One file: each binary-search probe is then ONE task instead
        // of |shuffle partitions| scheduled over a KB-scale table.
        .coalesce(1)
        .write.mode("overwrite").parquet(out)
  }

  /** SQL SCRIPTING (Spark 4 BEGIN/DECLARE/WHILE/IF procedural surface):
    * exact median order price by BINARY SEARCH over the value domain —
    * each probe is one distributed weighted COUNT over the build-once
    * value histogram ([[PriceHist]]); the driver-side script only
    * steers [lo, hi). The iterative-scalar-probe shape is what the
    * DataFrame API can only express with a driver loop — here it is ONE
    * SQL statement, the stored-procedure migration path. Probing the
    * histogram instead of the fact table (round-11 change, found when
    * the full-registry bench made this the slowest query at 3.3 s) is
    * the 100 TB design: one fact scan at build, ≤ |distinct values|
    * rows per probe after — the remaining ~3.5 s is the scripting
    * interpreter's per-statement plan/execute constant (~26 iterations
    * × 3 statements), INDEPENDENT of corpus size; a tuple-SET
    * single-statement loop was measured SLOWER (5.6 s — the correlated
    * probe subquery plans per output column), so the plain IF form
    * stands. Deterministic: integer halving, exact counts. */
  def scriptMedianSearch(spark: SparkSession, dir: String): DataFrame = {
    spark.read.parquet(PriceHist.path(spark, dir))
      .createOrReplaceTempView("graft_script_pc")
    spark.sql(
      """BEGIN
        |  DECLARE lo BIGINT = 0;
        |  DECLARE hi BIGINT = 0;
        |  DECLARE mid BIGINT = 0;
        |  DECLARE n BIGINT = 0;
        |  SET hi = (SELECT max(pc) FROM graft_script_pc);
        |  SET n = (SELECT sum(c) FROM graft_script_pc);
        |  WHILE lo < hi DO
        |    SET mid = (lo + hi) DIV 2;
        |    IF (SELECT coalesce(sum(c), 0) FROM graft_script_pc
        |        WHERE pc <= mid) * 2 >= n
        |    THEN
        |      SET hi = mid;
        |    ELSE
        |      SET lo = mid + 1;
        |    END IF;
        |  END WHILE;
        |  SELECT lo AS median_cents;
        |END""".stripMargin)
  }

  /** EXACT audience set algebra via mergeable BITMAPS — the exact
    * counterpart of [[thetaAudience]]: one bit per user id
    * (ClickHouse/Doris groupBitmap shape), aggregated with word-wise OR
    * (associative, partial-agg friendly, partitioning-independent), and
    * the union / intersection / difference are POPCOUNTs over
    * word-wise boolean algebra on two KB-sized arrays — no re-scan, no
    * estimate. The trade against theta: exact and algebra-closed, but
    * memory ∝ id-domain (fine to ~billions of ids with run compression
    * — roaring — whose aggregation algebra is identical). Null-safe
    * padding handles bitmaps of different grown lengths. */
  def bitmapAudience(spark: SparkSession, dir: String): DataFrame = {
    val bm = udaf(graft.functions.BitmapAgg.aggregator,
      org.apache.spark.sql.Encoders.scalaLong)
    val sk = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type")
      .agg(bm(col("user_id")).as("bits"))
    def pop(f: String) = expr(
      s"aggregate(zip_with(cb, pb, (x, y) -> bit_count($f)), 0L," +
        " (a, v) -> a + CAST(v AS BIGINT))")
    sk.filter(col("event_type") === "click").select(col("bits").as("cb"))
      .crossJoin(broadcast(
        sk.filter(col("event_type") === "purchase").select(col("bits").as("pb"))))
      .select(
        pop("coalesce(x, 0L) | coalesce(y, 0L)").as("n_union"),
        pop("coalesce(x, 0L) & coalesce(y, 0L)").as("n_inter"),
        pop("coalesce(x, 0L) & ~coalesce(y, 0L)").as("n_diff"))
      .select(explode(array(
        struct(lit("union").as("op"), col("n_union").as("n_users")),
        struct(lit("intersection").as("op"), col("n_inter").as("n_users")),
        struct(lit("difference").as("op"), col("n_diff").as("n_users")))).as("r"))
      .select(col("r.op"), col("r.n_users"))
  }

  /** Count-min-sketch frequency estimates for the top-20 users by
    * exact count: ONE 4×256 mergeable sketch of the whole event stream
    * (see functions.CountMinSketch — associative merges, deterministic
    * md5 buckets), then per-key estimates read out of the broadcast
    * sketch row. `overcount = est - exact` is ≥ 0 by the CMS
    * never-undercount property and, because the hashes are fixed, is
    * exactly reproducible — the oracle replays the bucket sums in SQL
    * and hash-checks the estimates, a stronger statement than the
    * usual ≤ εN bounds check. */
  def cmsUserCounts(spark: SparkSession, dir: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val cms = udaf(graft.functions.CountMinSketch.aggregator(depth, width),
      org.apache.spark.sql.Encoders.STRING)
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val sketch = ev.agg(cms(col("user_id").cast("string")).as("sketch"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
    // One barrier'd digest per row — the d row-slices and the two uses
    // of `est` would otherwise inline the same md5 2·depth times into
    // the projection (caught by the PlanRegressionSpec digest guard).
    val est = (0 until depth).map { d =>
      element_at(col("sketch"),
        (expr(s"CAST(conv(substr(m, ${1 + 8 * d}, 8), 16, 10) AS BIGINT)")
          % width + d * width + 1).cast("int"))
    }.reduce(least(_, _))
    top.crossJoin(broadcast(sketch))
      .withColumn("m", graft.functions.OptimizerBarrier(
        expr("md5(CAST(user_id AS STRING))")))
      .select(col("user_id"), col("exact_cnt"), est.as("est_cnt"),
        (est - col("exact_cnt")).as("overcount"))
  }

  /** Join-cardinality / shuffle-skew planning statistic: the EXACT
    * output size a self-equi-join of lineitem on l_partkey would
    * produce (Σ cnt² over key histogram), plus the top-10 keys by
    * contribution with their ppm share of the join — the number a
    * planner (or AQE's skew-join heuristic) needs BEFORE committing to
    * a shuffle strategy, computed without materializing a single
    * joined row.
    *
    * Plan: one partial+final HashAggregate builds the key histogram;
    * totals are a 1-row aggregate over it broadcast into the top-k
    * rows; top-10 is TakeOrderedAndProject (tie-broken by key — a
    * deterministic SET, never a global sort). Σ cnt² and the ppm
    * shares are exact integer arithmetic, so the skew report is
    * bit-reproducible — at 100 TB this runs on the histogram
    * (|distinct keys| rows), which is what makes join-size estimation
    * feasible when the join itself is not. */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(count(lit(1)).as("key_rows"))
    // DECIMAL(38) accumulation: Σ key_rows² (and a hot key's rows²×1e6)
    // overflow int64 exactly when this skew detector matters most.
    val totals = cnt.agg(
      sum(expr("CAST(key_rows AS DECIMAL(38,0)) * key_rows"))
        .as("est_pairs_dec"),
      sum(col("key_rows")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    cnt.orderBy(col("key_rows").desc, col("l_partkey")).limit(10)
      .crossJoin(totals)
      .select(col("l_partkey"), col("key_rows"),
        expr("CAST(CAST(key_rows AS DECIMAL(38,0)) * key_rows AS BIGINT)")
          .as("key_pairs"),
        expr("CAST(CAST(key_rows AS DECIMAL(38,0)) * key_rows * 1000000" +
          " div est_pairs_dec AS BIGINT)").as("share_ppm"),
        expr("CAST(est_pairs_dec AS BIGINT)").as("est_pairs"),
        col("n_rows"), col("n_keys"))
  }

  /** AMS/CMS self-join-size (F2) ESTIMATE — the sketch-only companion
    * to [[joinCardinality]]'s exact Σ cnt²: each count-min row's inner
    * product with itself Σ_j c[d][j]² upper-bounds F2 (bucket
    * collisions only ever add cross terms), and the min over the 4
    * independent rows is the classic AMS-style estimate a planner can
    * maintain INCREMENTALLY from the mergeable sketch alone — no key
    * histogram, no second scan, O(depth·width) state total. Because the
    * sketch hashes are fixed md5 windows, the estimate — and its exact
    * overcount vs the true F2 — is bit-reproducible, so the oracle
    * hash-checks the estimator itself, not just an error bound.
    *
    * Scale: the sketch is one ObjectHashAggregate pass (mergeable
    * across partitions/days); the exact side is the joinCardinality
    * histogram aggregate. At 100 TB you'd keep only the sketch path —
    * the exact column here is the verification baseline. Sums run in
    * DECIMAL(38)/HUGEINT (Σ c² passes int64 once rows ≥ ~10⁷ per
    * bucket); the final BIGINT cast is exact at any tested SF. */
  def f2SketchEstimate(spark: SparkSession, dir: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val cms = udaf(graft.functions.CountMinSketch.aggregator(depth, width),
      org.apache.spark.sql.Encoders.STRING)
    val keys = Tables.lineitem(spark, dir).select(col("l_partkey"))
    val est = keys.agg(cms(col("l_partkey").cast("string")).as("sketch"))
      .select(posexplode(col("sketch")).as(Seq("i", "c")))
      .groupBy(expr(s"i div $width").as("d"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("row_f2"))
      .agg(min("row_f2").as("est_f2"))
    keys.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
      .agg(sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).as("exact_f2"),
        sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"))
      .crossJoin(est)
      .selectExpr("CAST(est_f2 AS BIGINT) AS est_f2",
        "CAST(exact_f2 AS BIGINT) AS exact_f2",
        "CAST(est_f2 - exact_f2 AS BIGINT) AS overcount",
        "n_rows", "n_keys")
  }

  /** FUNCTIONAL-DEPENDENCY discovery report (the data-profiling pass
    * schema inference and normalization tools run): for each candidate
    * A→B, compare |distinct A| with |distinct (A,B)| — the dependency
    * holds iff they're equal, and the difference counts exactly how
    * many A-values map to multiple B-values.
    *
    * Per candidate: a CASCADE of partial-agg counts on NATIVE typed
    * keys — groupBy (A, B) collapses to distinct pairs with map-side
    * dedup BEFORE any shuffle (the tiny-domain candidates like
    * returnflag→linestatus reduce to ~a dozen rows per task and their
    * shuffle is free; the high-cardinality orderkey candidate shuffles
    * typed long keys, not packed strings), then groupBy(A) counts
    * rhs-per-lhs, then one row out. No Expand over the data, no string
    * packing, and each candidate's scan reads exactly its two columns
    * (pushed to parquet). All counts exact integers, so the profile
    * itself is oracle-checkable (sampled profilers can't promise
    * that). */
  def fdReport(spark: SparkSession, dir: String): DataFrame = {
    // NULL discipline: DuckDB's count(DISTINCT l) skips NULL l while a
    // groupBy cascade would count a NULL group, so both engines filter
    // to fully-non-null (l, r) rows — the FD question is only posed of
    // rows that HAVE both attributes (oracle carries the same WHERE).
    def fd(df: DataFrame, l: String, r: String): DataFrame =
      df.filter(col(l).isNotNull && col(r).isNotNull)
        .groupBy(l, r).agg(count(lit(1)).as("_n"))
        .groupBy(l).agg(count(lit(1)).as("n_rhs"))
        .agg(count(lit(1)).as("n_lhs"), sum("n_rhs").as("n_pairs"))
        .select(lit(s"$l->$r").as("fd"), col("n_lhs"), col("n_pairs"),
          (col("n_pairs") - col("n_lhs")).as("violating_keys"),
          when(col("n_pairs") === col("n_lhs"), 1).otherwise(0).as("holds"))
    val part = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir)
    fd(part, "p_brand", "p_type")
      .unionAll(fd(part, "p_name", "p_brand"))
      .unionAll(fd(li, "l_returnflag", "l_linestatus"))
      .unionAll(fd(li, "l_orderkey", "l_returnflag"))
      .unionAll(fd(Tables.customer(spark, dir), "c_nationkey", "c_mktsegment"))
  }

  /** Categorical ASSOCIATION profile (crosstab + independence
    * deviation): the (lang × source) contingency table with each
    * cell's lift against the independence expectation, in exact ppm —
    * `lift_ppm = obs·n·10⁶ div (row_tot·col_tot)`, 1 000 000 ⇔
    * independent. The chi-square-shaped question ("which feeds skew
    * which languages?") asked in integer arithmetic both engines
    * answer bit-identically — no float expected-counts anywhere.
    *
    * Plan: one cell aggregate over the corpus; marginals derive from
    * the CELL table (never a second corpus scan) and broadcast back
    * onto it; |langs|·|sources| rows end to end after the first
    * aggregate. */
  def crosstabAssoc(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      .localCheckpoint()
    val rows = cells.groupBy("lang").agg(sum("obs").as("row_tot"))
    val cols = cells.groupBy("source").agg(sum("obs").as("col_tot"))
    val total = cells.agg(sum("obs").as("n"))
    cells
      .join(broadcast(rows), "lang")
      .join(broadcast(cols), "source")
      .crossJoin(total)
      .select(col("lang"), col("source"), col("obs"),
        col("row_tot"), col("col_tot"),
        // DECIMAL(38) product before the integral divide (HUGEINT //
        // on the DuckDB side): obs·n·10⁶ overflows int64 at corpus
        // scale long before the cell table is large.
        expr("CAST(obs AS DECIMAL(38,0)) * n * 1000000" +
          " div (CAST(row_tot AS DECIMAL(38,0)) * col_tot)").as("lift_ppm"))
  }

  /** k for [[kAnonymity]]'s violation flag. */
  val KAnonK = 5L

  /** Offset added to balance cents before bucketing so the bucket id
    * stays positive — Spark `div` truncates toward zero while DuckDB
    * `//` floors, and they only agree on non-negative operands. */
  private val BalOffsetCents = 100000000L

  /** K-ANONYMITY audit over quasi-identifiers — the privacy-release
    * gate for training/analytics data: group the table by the QI tuple
    * (nation, market segment, $500 account-balance bucket) and report
    * the GROUP-SIZE DISTRIBUTION — how many groups (and records) sit at
    * each size, flagged when size < k. Records in sub-k groups are
    * re-identifiable by their QIs; the histogram is the number a
    * release decision actually reads (suppress? generalize the bucket?
    * raise k?).
    *
    * Plan/scale shape: one partial+final HashAggregate to QI groups,
    * then a second aggregate over the |groups|-row table — the same
    * self-scaling two-level histogram discipline as the doc-length
    * histogram (output rows = distinct group sizes at any SF). Exact
    * integer bucketing (offset keeps cents positive: Spark `div`
    * truncates, DuckDB `//` floors — they agree only ≥ 0). */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        expr(s"(CAST(round(c_acctbal * 100, 0) AS BIGINT) + " +
          s"${BalOffsetCents}L) div 50000").as("bal_bucket"))
      .agg(count(lit(1)).as("gs"))
      .groupBy(col("gs").as("group_size"))
      .agg(count(lit(1)).as("n_groups"), sum("gs").as("n_records"))
      .withColumn("violates_k",
        when(col("group_size") < KAnonK, 1L).otherwise(0L))

  /** L-DIVERSITY audit — k-anonymity's necessary companion: a QI group
    * can be large (k-anonymous) yet reveal everyone's sensitive value
    * if the group is homogeneous. Per quasi-identifier group (same QI
    * columns as [[kAnonymity]], nation × balance bucket), the number
    * of DISTINCT sensitive values (market segment) is its l; the
    * report is the l histogram plus how many records sit in
    * l < 3 groups (the attribute-disclosure exposure a release gate
    * reads next to the k histogram).
    *
    * Plan: one (QI, sensitive) distinct-ish aggregate → one QI-group
    * aggregate → one |distinct l| histogram aggregate — each input a
    * post-aggregate of the previous, map-side combined throughout. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        expr(s"(CAST(round(c_acctbal * 100, 0) AS BIGINT) + " +
          s"${BalOffsetCents}L) div 50000").as("bal_bucket"))
      .agg(count(lit(1)).as("gs"), countDistinct("c_mktsegment").as("l"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_groups"), sum("gs").as("n_records"))
      .withColumn("below_l3",
        when(col("l") < 3, col("n_records")).otherwise(0L))

  /** t in ppm for [[tCloseness]]'s violation flag (t = 0.2, the
    * working value of Li et al.'s own examples). */
  val TCloseTPpm = 200000L

  /** T-CLOSENESS audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    * third member of the release-gate triple: k-anonymity says QI
    * groups are big, l-diversity says they are not homogeneous,
    * t-closeness says their sensitive-value DISTRIBUTION does not
    * deviate from the table-wide one (a group can hold 3 distinct
    * diagnoses and still leak if 95% of it is "cancer" vs 5%
    * globally). Distance for the categorical sensitive attribute
    * (market segment) is total variation ½·Σ|p_s − q_s|, cleared to
    * exact integers: tvd_ppm = Σ_s |n_gs·N − n_s·n_g| · 10⁶
    * div (2·n_g·N) — ONE floor-div per group, every product in
    * DECIMAL(38)/HUGEINT (n_gs·N passes int64 at warehouse scale).
    * Absent cells matter (n_gs = 0 contributes n_s·n_g), so the group
    * table crosses the BOUNDED |segments| list, never an outer join
    * against raw rows.
    *
    * Report follows the self-scaling histogram discipline: groups
    * bucket by TVD decile, so output rows ≤ 11 at any SF, with the
    * record mass in groups past t — the number a suppress/generalize
    * decision reads.
    *
    * Plan: one (QI, sensitive) cell aggregate over the scan; group
    * totals, segment marginals, and N all derive from the CELL table
    * (no second corpus scan, crosstabAssoc discipline); cells join
    * back onto the groups×segments cross (per-QI-keyed shuffle);
    * per-group rational → decile histogram aggregate. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"),
        expr(s"(CAST(round(c_acctbal * 100, 0) AS BIGINT) + " +
          s"${BalOffsetCents}L) div 50000").as("bal_bucket"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gs"))
      .localCheckpoint()
    val groups = cells.groupBy("c_nationkey", "bal_bucket")
      .agg(sum("n_gs").as("n_g"))
    val segs = cells.groupBy("c_mktsegment").agg(sum("n_gs").as("n_s"))
    val total = segs.agg(sum("n_s").as("n"))
    groups.crossJoin(broadcast(segs))
      .join(cells, Seq("c_nationkey", "bal_bucket", "c_mktsegment"), "left")
      .na.fill(0L, Seq("n_gs"))
      .crossJoin(total)
      .groupBy("c_nationkey", "bal_bucket", "n_g", "n")
      .agg(sum(expr("abs(CAST(n_gs AS DECIMAL(38,0)) * n" +
        " - CAST(n_s AS DECIMAL(38,0)) * n_g)")).as("num"))
      .select(col("n_g"),
        expr("CAST(num * 1000000 div (2 * CAST(n_g AS DECIMAL(38,0)) * n)" +
          " AS BIGINT)").as("tvd_ppm"))
      .groupBy(expr("tvd_ppm div 100000").as("tvd_decile"))
      .agg(count(lit(1)).as("n_groups"), sum("n_g").as("n_records"),
        sum(when(col("tvd_ppm") > TCloseTPpm, col("n_g")).otherwise(0L))
          .as("records_past_t"))
  }

  /** GENERALIZED RANDOMIZED RESPONSE (Warner'65; the k-ary "direct
    * encoding" local-DP mechanism of Kairouz et al.'15) — the
    * collection-side member of the privacy family: each record reports
    * its true market segment with probability 3/4 and otherwise a
    * uniformly-drawn segment (own included), and the aggregator
    * DEBIASES the noisy histogram back to an unbiased estimate
    * n̂_i = (4k·obs_i − n) / (3k). The report shows true count, noisy
    * count, debiased estimate, and the estimator's actual error —
    * the utility-vs-privacy table an ε-budget decision reads.
    *
    * Determinism is the point of the exercise here: the "coin" is
    * md5(custkey) bits (flip decision = 32-bit prefix mod 4, substitute
    * = next 32 bits mod k), so the mechanism — normally the one
    * irreproducible stage of an LDP pipeline — replays bit-identically
    * in both engines, and the estimator algebra is ONE exact floor-div
    * in milli-units (no floats anywhere).
    *
    * Plan/scale shape: ONE (true, reported) cell aggregate over the
    * scan (≤k² cells, crosstabAssoc discipline) — both marginals and N
    * derive from the cell table; the segment-index list and the 1-row
    * k/N totals are bounded broadcasts. Output is k rows at any SF. */
  def randResponse(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Bounded post-distinct table (|segments| rows) — the rank window
    // runs on the post-aggregate, per the no-unpartitioned-windows rule.
    val segIdx = Tables.customer(spark, dir)
      .select(col("c_mktsegment")).distinct()
      .withColumn("sub_idx",
        row_number().over(Window.orderBy("c_mktsegment")).cast("long") - 1)
    val kTab = segIdx.agg(count(lit(1)).as("k"))
    val cells = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("true_seg"),
        expr("CAST(conv(substr(md5(concat('graft-rr-', " +
          "CAST(c_custkey AS STRING))), 1, 8), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substr(md5(concat('graft-rr-', " +
          "CAST(c_custkey AS STRING))), 9, 8), 16, 10) AS BIGINT)").as("h2"))
      .crossJoin(kTab)
      .withColumn("sub_idx", expr("h2 % k"))
      .join(broadcast(segIdx.withColumnRenamed("c_mktsegment", "sub_seg")),
        Seq("sub_idx"))
      .withColumn("obs_seg",
        when(expr("h1 % 4 < 3"), col("true_seg")).otherwise(col("sub_seg")))
      .groupBy("true_seg", "obs_seg").agg(count(lit(1)).as("n_cell"))
      .localCheckpoint()
    val trueCnt = cells.groupBy(col("true_seg").as("c_mktsegment"))
      .agg(sum("n_cell").as("n_true"))
    val obsCnt = cells.groupBy(col("obs_seg").as("c_mktsegment"))
      .agg(sum("n_cell").as("n_obs"))
    val total = cells.agg(sum("n_cell").as("n"))
    trueCnt.join(obsCnt, Seq("c_mktsegment"), "full_outer")
      .na.fill(0L, Seq("n_true", "n_obs"))
      .crossJoin(kTab).crossJoin(total)
      .select(col("c_mktsegment"), col("n_true"), col("n_obs"),
        // est can be negative (a segment nobody reports); sign-split
        // so Spark trunc-div and DuckDB floor-div agree.
        expr("CAST(CASE WHEN 4 * k * CAST(n_obs AS DECIMAL(38,0)) >= n" +
          " THEN (4 * k * CAST(n_obs AS DECIMAL(38,0)) - n) * 1000" +
          " div (3 * k)" +
          " ELSE -((n - 4 * k * CAST(n_obs AS DECIMAL(38,0))) * 1000" +
          " div (3 * k)) END AS BIGINT)").as("est_milli"))
      .withColumn("err_milli", expr("est_milli - n_true * 1000"))
  }

  /** CENTRAL-DP COUNT RELEASE with the DISCRETE LAPLACE (two-sided
    * geometric) mechanism at ε = ln 2 — per-nation order counts plus
    * integer noise, where the noise is EXACT and REPLAYABLE: the
    * discrete Laplace with α = ½ is the difference g₁ − g₂ of two iid
    * Geometric(½) draws, and a Geometric(½) draw is just "leading
    * zeros of a uniform bit string" — computed as 60 − length(bin(x))
    * on a 60-bit md5 slice, which both engines evaluate identically
    * (bin() strips leading zeros in Spark and DuckDB alike; the x ≤ 1
    * boundary collapses the geometric tail into g = 59, mass 2⁻⁵⁹ =
    * exactly the tail it replaces, so the distribution is EXACTLY
    * geometric with a depth-59 clamp). Contrast [[randResponse]]
    * (local DP, noise per record): here the aggregate is exact and
    * ONE noise draw per released cell protects it — the
    * central-model face completing the privacy suite. Released value
    * is max(0, true + noise) (post-processing keeps ε); the true
    * count and the noise ride along as mechanism-audit columns, the
    * `released` column is the publishable slice.
    *
    * Plan/scale shape: fact⋈broadcast-dims → |nations| aggregate →
    * noise is a pure projection of the group key (no RNG state, no
    * driver randomness) — the mechanism adds ZERO plan cost at any
    * scale, which is the point: determinism makes the DP release
    * auditable and re-runnable. */
  /** CENTRAL-DP MEAN RELEASE — the clipped-sum/count composition
    * completing the DP release family ([[dpRelease]] = count,
    * [[dpHistogram]] = unknown-domain histogram): each order's cents
    * are CLIPPED at C = 30,000,000 (the a-priori ℓ∞ sensitivity bound
    * every DP mean must fix — one record moves the sum by ≤ C), the
    * per-nation clipped SUM gets one C-granular discrete-Laplace draw
    * (the [[dpRelease]] geometric-difference mechanism scaled by C,
    * same ε), the COUNT gets its own unit-granular draw from
    * independent seeds, and the released mean is the post-processed
    * ratio max(0, S̃) div max(1, ñ) — post-processing preserves ε, so
    * the pair costs 2ε total by basic composition. The clip fraction
    * rides along as the utility audit (what the sensitivity bound cost
    * in signal). Noise is md5-seeded per cell and replayable: zero
    * plan cost, auditable, re-runnable — the property that makes a DP
    * release operable in a 100 TB pipeline. */
  def dpMean(spark: SparkSession, dir: String): DataFrame = {
    val C = 30000000L
    def geom(seed: String) =
      s"60 - length(bin(CAST(conv(substr(md5(concat('$seed', n_name))," +
        s" 1, 15), 16, 10) AS BIGINT)))"
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_true"),
        sum(least(col("cents"), lit(C))).as("s_clip"),
        sum(when(col("cents") > C, 1L).otherwise(0L)).as("n_clipped"))
      .select(col("n_name"), col("n_true"), col("s_clip"),
        expr("CAST(n_clipped * 1000000 div n_true AS BIGINT)")
          .as("clip_ppm"),
        expr(s"CAST(${geom("graft-dpm1-")} - (${geom("graft-dpm2-")})" +
          " AS BIGINT)").as("noise_sum_units"),
        expr(s"CAST(${geom("graft-dpm3-")} - (${geom("graft-dpm4-")})" +
          " AS BIGINT)").as("noise_n"))
      .select(col("n_name"), col("n_true"), col("s_clip"),
        col("clip_ppm"), col("noise_sum_units"), col("noise_n"),
        expr(s"CAST(greatest(CAST(0 AS BIGINT)," +
          s" s_clip + ${C}L * noise_sum_units)" +
          " div greatest(CAST(1 AS BIGINT), n_true + noise_n)" +
          " AS BIGINT)").as("released_mean_cents"))
  }

  /** BENFORD FIRST-DIGIT AUDIT of order totals — the classic
    * fabricated-/degenerate-data screen (Newcomb 1881, Benford 1938):
    * observed first-digit frequencies of the cent amounts vs the
    * Benford expectation log₁₀(1 + 1/d), the latter as NINE CITED
    * PPM CONSTANTS (the χ²-table discipline — the one place a log
    * appears, frozen identically in both engines). Per digit:
    * count, observed ppm, expected ppm, |delta| ppm — the audit
    * column a data-quality gate thresholds. One fact scan → 9-row
    * algebra; digits with zero mass still appear (broadcast digit
    * dimension), because a MISSING digit is the loudest signal. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = Seq((1, 301029L), (2, 176091L), (3, 124938L),
      (4, 96910L), (5, 79181L), (6, 66946L), (7, 57991L),
      (8, 51152L), (9, 45757L)).toDF("digit", "exp_ppm")
    val obs = Tables.orders(spark, dir)
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100," +
        " 0) AS BIGINT) AS STRING), 1, 1) AS INT)").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum("n").as("total"))
    expected.join(obs, Seq("digit"), "left")
      .crossJoin(tot)
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        expr("CAST(coalesce(n, 0) * 1000000 div total AS BIGINT)")
          .as("obs_ppm"),
        col("exp_ppm"),
        expr("CAST(abs(coalesce(n, 0) * 1000000 div total - exp_ppm)" +
          " AS BIGINT)").as("abs_delta_ppm"))
  }

  def dpRelease(spark: SparkSession, dir: String): DataFrame = {
    def geom(seed: String) =
      s"60 - length(bin(CAST(conv(substr(md5(concat('$seed', n_name))," +
        s" 1, 15), 16, 10) AS BIGINT)))"
    Tables.orders(spark, dir)
      .select(col("o_custkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_true"))
      .select(col("n_name"), col("n_true"),
        expr(s"CAST(${geom("graft-dp1-")} - (${geom("graft-dp2-")})" +
          " AS BIGINT)").as("noise"))
      .withColumn("released",
        greatest(lit(0L), col("n_true") + col("noise")))
      .withColumn("eps_milli", lit(693L))
  }

  /** Stability threshold for [[dpHistogram]]: released cells below τ
    * are SUPPRESSED, which is what makes a histogram over an
    * unbounded/unknown key domain (here lang × source, in production
    * URLs or free-text tags) differentially private — without the
    * threshold the mere PRESENCE of a key leaks its contributor
    * (Korolova et al. WWW'09; Wilson et al. VLDB'20). τ = 12 at
    * ε = ln 2 bounds the per-cell leak probability δ by
    * P(noise ≥ τ) ≈ 2^-τ/3 ≈ 10⁻⁴. */
  val DpHistTau = 12L

  /** THRESHOLDED DP HISTOGRAM release — [[dpRelease]] extended to the
    * unknown-domain case every real release pipeline hits: per
    * (lang, source) document counts + the same md5-deterministic
    * two-sided geometric noise (ε = ln 2), then cells whose NOISED
    * count falls below [[DpHistTau]] are dropped entirely. One grouped
    * aggregate, noise and threshold in the same projection; the
    * released histogram replays digit-for-digit (the determinism is an
    * audit property — production swaps the md5 coins for real ones
    * without touching the plan). */
  def dpHistogram(spark: SparkSession, dir: String): DataFrame = {
    def geom(seed: String) =
      s"60 - length(bin(CAST(conv(substr(md5(concat('$seed', lang," +
        s" '|', source)), 1, 15), 16, 10) AS BIGINT)))"
    Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_true"))
      .select(col("lang"), col("source"), col("n_true"),
        expr(s"CAST(${geom("graft-dph1-")} - (${geom("graft-dph2-")})" +
          " AS BIGINT)").as("noise"))
      .withColumn("released", col("n_true") + col("noise"))
      .filter(col("released") >= lit(DpHistTau))
      .withColumn("eps_milli", lit(693L))
      .withColumn("tau", lit(DpHistTau))
  }

  /** PSEUDONYMIZED EXPORT — the privacy-preserving data-sharing shape:
    * direct identifiers are replaced by a salted-md5 pseudonym (stable
    * per key, so cross-table joins still work; irreversible without
    * the salt), and the shared artifact is the per-pseudonym aggregate
    * — here the top-20 pseudonymous customers by revenue. Rank
    * attached AFTER the limit ([[q_item_pairs]] discipline), so the
    * window only ever sees 20 rows.
    *
    * Plan/scale shape: orders⋈customer equi-join (AQE-chosen build
    * side), pseudonym computed in the same projection, one aggregate
    * keyed on the pseudonym, TakeOrderedAndProject top-k. The
    * pseudonym is a pure key function — both engines derive identical
    * mappings with zero shared state. */
  def pseudonymExport(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("revenue_cents").desc, col("pseud"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"),
        expr("substr(md5(concat('graft-salt-', CAST(c_custkey AS " +
          "STRING))), 1, 16)").as("pseud")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("pseud")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("pseud")).limit(k)
      .withColumn("rk", row_number().over(w))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_k_anonymity" -> kAnonymity,
    "q_l_diversity" -> lDiversity,
    "q_t_closeness" -> tCloseness,
    "q_rand_response" -> randResponse,
    "q_dp_release" -> dpRelease,
    "q_dp_mean" -> dpMean,
    "q_benford_audit" -> benfordAudit,
    "q_dp_histogram" -> dpHistogram,
    "q_pseudonym_export" -> ((s, d) => pseudonymExport(s, d)),
    "q_crosstab_assoc" -> crosstabAssoc,
    "q_kmv_sketch" -> ((s, d) => kmvSketchTable(s, d)),
    "q_quantile_sketch" -> ((s, d) => quantileSketchTable(s, d)),
    "q_sketch_rollup" -> ((s, d) => sketchRollup(s, d)),
    "q_fd_report" -> fdReport,
    "q_join_cardinality" -> joinCardinality,
    "q_f2_sketch" -> ((s, d) => f2SketchEstimate(s, d)),
    "q_heavy_hitters" -> ((s, d) => heavyEventTypes(s, d)),
    "q_hh_drift" -> ((s, d) => heavyHitterDrift(s, d)),
    "q_lang_heavy_tokens" -> ((s, d) => langHeavyTokens(s, d)),
    "q_mad_prices" -> madPrices,
    "q_winsorized_mean" -> winsorizedMean,
    "q_mad_anomalies" -> madAnomalies,
    "q_distinct_mergeable" -> distinctUsersMergeable,
    "q_rolling_distinct" -> ((s, d) => rollingDistinctUsers(s, d)),
    "q_theta_audience" -> thetaAudience,
    "q_bitmap_audience" -> bitmapAudience,
    "q_script_median" -> scriptMedianSearch,
    "q_auc_purchase" -> aucPurchase,
    "q_calibration" -> ((s, d) => calibrationTable(s, d)),
    "q_isotonic_calibration" -> isotonicCalibration,
    "q_brier_calibrated" -> brierCalibrated,
    "q_pr_points" -> ((s, d) => prPoints(s, d)),
    "q_doclen_histogram" -> docLengthHistogram,
    "q_data_profile" -> customerProfile,
    "q_equidepth_hist" -> ((s, d) => equidepthHistogram(s, d)),
    "q_source_deciles" -> ((s, d) => sourceLengthDeciles(s, d)),
    "q_trimmed_price_stats" -> trimmedPriceStats,
    "q_cms_user_counts" -> ((s, d) => cmsUserCounts(s, d)))

  /** Reliability-bins oracle, shared by q_calibration and (as the bins
    * CTE) q_isotonic_calibration — one definition so the fix can never
    * disagree with the diagnosis it corrects. */
  private lazy val isotonicSql: String =
    s"""WITH cal AS ($calibrationSql),
         |bins AS (SELECT bucket, n, n_pos FROM cal),
         |ranges AS (
         |  SELECT a.bucket AS j, b.bucket AS k,
         |         CAST(sum(c2.n_pos) * 1000000 // sum(c2.n) AS BIGINT)
         |           AS rate_micro
         |  FROM bins a JOIN bins b ON a.bucket <= b.bucket
         |  JOIN bins c2 ON c2.bucket BETWEEN a.bucket AND b.bucket
         |  GROUP BY 1, 2),
         |iso AS (
         |  SELECT i, CAST(max(mn) AS BIGINT) AS iso_micro FROM (
         |    SELECT ib.bucket AS i, r.j,
         |           CAST(min(r.rate_micro) AS BIGINT) AS mn
         |    FROM bins ib JOIN ranges r
         |      ON r.j <= ib.bucket AND r.k >= ib.bucket
         |    GROUP BY 1, 2) GROUP BY 1)
         |SELECT b.bucket, b.n, b.n_pos,
         |       CAST(b.n_pos * 1000000 // b.n AS BIGINT) AS raw_micro,
         |       iso.iso_micro
         |FROM bins b JOIN iso ON iso.i = b.bucket""".stripMargin

  private lazy val calibrationSql: String =
    """WITH e AS (
      |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS sc,
      |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
      |  FROM events),
      |g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(label) AS BIGINT) AS n_pos
      |      FROM e GROUP BY 1),
      |c AS (SELECT sc, n, n_pos,
      |             CAST(COALESCE(SUM(n) OVER (ORDER BY sc
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |               AS BIGINT) AS cb,
      |             CAST(SUM(n) OVER () AS BIGINT) AS total
      |      FROM g)
      |SELECT CAST((10 * cb) // total AS INT) AS bucket,
      |       CAST(sum(n) AS BIGINT) AS n, CAST(sum(n_pos) AS BIGINT) AS n_pos,
      |       min(sc) AS lo_cents, max(sc) AS hi_cents,
      |       CAST(sum(n_pos) * 1000000 // sum(n) AS BIGINT) AS pos_rate_micro
      |FROM c GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_k_anonymity" ->
      s"""WITH g AS (
         |  SELECT c_nationkey, c_mktsegment,
         |         (CAST(round(c_acctbal * 100, 0) AS BIGINT)
         |          + $BalOffsetCents) // 50000 AS bal_bucket,
         |         count(*) AS gs
         |  FROM customer GROUP BY 1, 2, 3)
         |SELECT gs AS group_size, CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(gs) AS BIGINT) AS n_records,
         |       CAST(CASE WHEN gs < $KAnonK THEN 1 ELSE 0 END AS BIGINT)
         |         AS violates_k
         |FROM g GROUP BY gs""".stripMargin,
    "q_l_diversity" ->
      s"""WITH g AS (
         |  SELECT c_nationkey,
         |         (CAST(round(c_acctbal * 100, 0) AS BIGINT)
         |          + $BalOffsetCents) // 50000 AS bal_bucket,
         |         CAST(count(*) AS BIGINT) AS gs,
         |         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
         |  FROM customer GROUP BY 1, 2)
         |SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(gs) AS BIGINT) AS n_records,
         |       CAST(CASE WHEN l < 3 THEN sum(gs) ELSE 0 END AS BIGINT)
         |         AS below_l3
         |FROM g GROUP BY l""".stripMargin,
    "q_t_closeness" ->
      s"""WITH cells AS (
         |  SELECT c_nationkey,
         |         (CAST(round(c_acctbal * 100, 0) AS BIGINT)
         |          + $BalOffsetCents) // 50000 AS bal_bucket,
         |         c_mktsegment, CAST(count(*) AS BIGINT) AS n_gs
         |  FROM customer GROUP BY 1, 2, 3),
         |grp AS (SELECT c_nationkey, bal_bucket,
         |               CAST(sum(n_gs) AS BIGINT) AS n_g
         |        FROM cells GROUP BY 1, 2),
         |seg AS (SELECT c_mktsegment, CAST(sum(n_gs) AS BIGINT) AS n_s
         |        FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM seg),
         |pg AS (
         |  SELECT g.n_g,
         |         CAST(sum(abs(CAST(coalesce(c.n_gs, 0) AS HUGEINT) * t.n
         |                      - CAST(s.n_s AS HUGEINT) * g.n_g)) * 1000000
         |              // (2 * CAST(g.n_g AS HUGEINT) * t.n) AS BIGINT)
         |           AS tvd_ppm
         |  FROM grp g CROSS JOIN seg s
         |  LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
         |    AND c.bal_bucket = g.bal_bucket
         |    AND c.c_mktsegment = s.c_mktsegment
         |  CROSS JOIN tot t
         |  GROUP BY g.c_nationkey, g.bal_bucket, g.n_g, t.n)
         |SELECT tvd_ppm // 100000 AS tvd_decile,
         |       CAST(count(*) AS BIGINT) AS n_groups,
         |       CAST(sum(n_g) AS BIGINT) AS n_records,
         |       CAST(sum(CASE WHEN tvd_ppm > $TCloseTPpm THEN n_g
         |                ELSE 0 END) AS BIGINT) AS records_past_t
         |FROM pg GROUP BY 1""".stripMargin,
    "q_dp_histogram" ->
      s"""WITH base AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_true
        |  FROM documents GROUP BY 1, 2),
        |noised AS (
        |  SELECT lang, source, n_true,
        |         CAST((60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dph1-' || lang || '|' || source),
        |                       1, 15)) AS BIGINT))))
        |            - (60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dph2-' || lang || '|' || source),
        |                       1, 15)) AS BIGINT)))) AS BIGINT) AS noise
        |  FROM base)
        |SELECT lang, source, n_true, noise,
        |       n_true + noise AS released,
        |       CAST(693 AS BIGINT) AS eps_milli,
        |       CAST(${DpHistTau} AS BIGINT) AS tau
        |FROM noised WHERE n_true + noise >= ${DpHistTau}""".stripMargin,
    "q_dp_release" ->
      """WITH base AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_true
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |noised AS (
        |  SELECT n_name, n_true,
        |         CAST((60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dp1-' || n_name), 1, 15))
        |                AS BIGINT))))
        |            - (60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dp2-' || n_name), 1, 15))
        |                AS BIGINT)))) AS BIGINT) AS noise
        |  FROM base)
        |SELECT n_name, n_true, noise,
        |       greatest(CAST(0 AS BIGINT), n_true + noise) AS released,
        |       CAST(693 AS BIGINT) AS eps_milli
        |FROM noised""".stripMargin,
    "q_benford_audit" ->
      """WITH expd(digit, exp_ppm) AS (VALUES (1, 301029), (2, 176091),
        |  (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991),
        |  (8, 51152), (9, 45757)),
        |obs AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
        |           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM obs)
        |SELECT e.digit, coalesce(o.n, 0) AS n,
        |       CAST(coalesce(o.n, 0) * 1000000 // total AS BIGINT)
        |         AS obs_ppm,
        |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
        |       CAST(abs(coalesce(o.n, 0) * 1000000 // total - e.exp_ppm)
        |         AS BIGINT) AS abs_delta_ppm
        |FROM expd e LEFT JOIN obs o ON o.digit = e.digit
        |CROSS JOIN tot""".stripMargin,
    "q_dp_mean" ->
      """WITH base AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_true,
        |         CAST(sum(least(CAST(round(o_totalprice * 100, 0)
        |           AS BIGINT), 30000000)) AS BIGINT) AS s_clip,
        |         CAST(sum(CASE WHEN CAST(round(o_totalprice * 100, 0)
        |           AS BIGINT) > 30000000 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_clipped
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |noised AS (
        |  SELECT n_name, n_true, s_clip,
        |         CAST(n_clipped * 1000000 // n_true AS BIGINT)
        |           AS clip_ppm,
        |         CAST((60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dpm1-' || n_name), 1, 15))
        |                AS BIGINT))))
        |            - (60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dpm2-' || n_name), 1, 15))
        |                AS BIGINT)))) AS BIGINT) AS noise_sum_units,
        |         CAST((60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dpm3-' || n_name), 1, 15))
        |                AS BIGINT))))
        |            - (60 - length(bin(CAST(('0x' ||
        |                substr(md5('graft-dpm4-' || n_name), 1, 15))
        |                AS BIGINT)))) AS BIGINT) AS noise_n
        |  FROM base)
        |SELECT n_name, n_true, s_clip, clip_ppm, noise_sum_units,
        |       noise_n,
        |       CAST(greatest(CAST(0 AS BIGINT),
        |           s_clip + 30000000 * noise_sum_units)
        |         // greatest(CAST(1 AS BIGINT), n_true + noise_n)
        |         AS BIGINT) AS released_mean_cents
        |FROM noised""".stripMargin,
    "q_rand_response" ->
      """WITH seg AS (
        |  SELECT c_mktsegment,
        |         CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT)
        |           - 1 AS sub_idx
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer)),
        |kt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM seg),
        |base AS (
        |  SELECT c_mktsegment AS true_seg,
        |         CAST(('0x' || substr(md5('graft-rr-'
        |               || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
        |         CAST(('0x' || substr(md5('graft-rr-'
        |               || CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
        |  FROM customer),
        |rep AS (
        |  SELECT b.true_seg,
        |         CASE WHEN b.h1 % 4 < 3 THEN b.true_seg
        |              ELSE s.c_mktsegment END AS obs_seg
        |  FROM base b CROSS JOIN kt
        |  JOIN seg s ON s.sub_idx = b.h2 % kt.k),
        |cells AS (SELECT true_seg, obs_seg, CAST(count(*) AS BIGINT) AS n_cell
        |          FROM rep GROUP BY 1, 2),
        |tc AS (SELECT true_seg AS c_mktsegment,
        |              CAST(sum(n_cell) AS BIGINT) AS n_true
        |       FROM cells GROUP BY 1),
        |oc AS (SELECT obs_seg AS c_mktsegment,
        |              CAST(sum(n_cell) AS BIGINT) AS n_obs
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n FROM cells)
        |SELECT c_mktsegment,
        |       CAST(coalesce(tc.n_true, 0) AS BIGINT) AS n_true,
        |       CAST(coalesce(oc.n_obs, 0) AS BIGINT) AS n_obs,
        |       CAST(CASE WHEN 4 * kt.k * CAST(coalesce(oc.n_obs, 0)
        |                        AS HUGEINT) >= tot.n
        |            THEN (4 * kt.k * CAST(coalesce(oc.n_obs, 0) AS HUGEINT)
        |                  - tot.n) * 1000 // (3 * kt.k)
        |            ELSE -((tot.n - 4 * kt.k * CAST(coalesce(oc.n_obs, 0)
        |                    AS HUGEINT)) * 1000 // (3 * kt.k))
        |            END AS BIGINT) AS est_milli,
        |       CAST(CASE WHEN 4 * kt.k * CAST(coalesce(oc.n_obs, 0)
        |                        AS HUGEINT) >= tot.n
        |            THEN (4 * kt.k * CAST(coalesce(oc.n_obs, 0) AS HUGEINT)
        |                  - tot.n) * 1000 // (3 * kt.k)
        |            ELSE -((tot.n - 4 * kt.k * CAST(coalesce(oc.n_obs, 0)
        |                    AS HUGEINT)) * 1000 // (3 * kt.k))
        |            END - coalesce(tc.n_true, 0) * 1000 AS BIGINT)
        |         AS err_milli
        |FROM tc FULL OUTER JOIN oc USING (c_mktsegment)
        |CROSS JOIN kt CROSS JOIN tot""".stripMargin,
    "q_pseudonym_export" ->
      """WITH j AS (
        |  SELECT substr(md5('graft-salt-' || CAST(c_custkey AS VARCHAR)),
        |                1, 16) AS pseud,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |a AS (
        |  SELECT pseud, CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(cents) AS BIGINT) AS revenue_cents
        |  FROM j GROUP BY pseud
        |  ORDER BY revenue_cents DESC, pseud LIMIT 20)
        |SELECT pseud, n_orders, revenue_cents,
        |       CAST(row_number() OVER (ORDER BY revenue_cents DESC, pseud)
        |            AS INT) AS rk
        |FROM a""".stripMargin,
    // Replays the roll-up: fine sketches (same hashes/levels/
    // thresholds as q_quantile_sketch), then the MERGE algebra —
    // threshold floor + per-shard re-trim — for the source and global
    // grains, estimates at each grain.
    "q_sketch_rollup" ->
      s"""WITH d AS (
         |  SELECT source || ':' || lang AS grp, doc_id AS event_id,
         |         CAST(len(regexp_split_to_array(lower(text), '\\s+'))
         |           AS BIGINT) AS cents
         |  FROM documents),
         |tt0 AS (
         |  SELECT grp, event_id, cents,
         |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
         |           AS BIGINT) AS h32
         |  FROM d),
         |tt AS (
         |  SELECT grp, event_id, cents, h32, h32 // $QSketchShardDiv AS shard,
         |         CAST(${tzSql("h32")} AS BIGINT) AS tz
         |  FROM tt0),
         |${thCteSql("tt", "th0", QSketchRollupK)},
         |r0 AS (
         |  SELECT tt.grp, cents, h32, event_id, shard, tz, th0.t_star
         |  FROM tt JOIN th0 ON tt.grp = th0.grp WHERE tz >= t_star),
         |${remergeCteSql("r0", "split_part(grp, ':', 1)", "r1", QSketchRollupK)},
         |${remergeCteSql("r0", "'ALL'", "r2", QSketchRollupK)}
         |${estSelectSql("r0", "source:lang")}
         |UNION ALL
         |${estSelectSql("r1", "source")}
         |UNION ALL
         |${estSelectSql("r2", "all")}""".stripMargin,
    // Replays the level-sampling sketch end to end: same 32-bit md5
    // hashes, same trailing-zero levels, per-shard thresholds from the
    // suffix-count histogram, max-merge, and the ceil-rank estimate —
    // the estimator itself is hash-checked (q_kmv_sketch discipline).
    "q_quantile_sketch" ->
      s"""WITH e AS (
         |  SELECT event_type AS grp, event_id,
         |         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
         |           AS BIGINT) AS h32,
         |         CAST(round(value * 100, 0) AS BIGINT) AS cents
         |  FROM events),
         |t AS (
         |  SELECT grp, event_id, h32, cents,
         |         h32 // $QSketchShardDiv AS shard,
         |         CAST(${tzSql("h32")} AS BIGINT) AS tz
         |  FROM e),
         |lvl AS (SELECT grp, shard, tz, count(*) AS c FROM t GROUP BY 1, 2, 3),
         |sfx AS (
         |  SELECT grp, shard, tz,
         |         sum(c) OVER (PARTITION BY grp, shard ORDER BY tz DESC)
         |           AS suffix
         |  FROM lvl),
         |ts AS (
         |  SELECT grp, shard,
         |         coalesce(max(CASE WHEN suffix > $QSketchK THEN tz END) + 1,
         |           0) AS t_s
         |  FROM sfx GROUP BY 1, 2),
         |tstar AS (SELECT grp, CAST(max(t_s) AS BIGINT) AS t_star
         |          FROM ts GROUP BY 1),
         |ret AS (
         |  SELECT t.grp, t.cents, t.h32, t.event_id, s.t_star
         |  FROM t JOIN tstar s ON t.grp = s.grp AND t.tz >= s.t_star),
         |rk AS (
         |  SELECT grp, cents, t_star,
         |         row_number() OVER (PARTITION BY grp
         |           ORDER BY cents, h32, event_id) AS pos,
         |         count(*) OVER (PARTITION BY grp) AS n_ret
         |  FROM ret),
         |params AS (
         |  SELECT grp, t_star, n_ret, CAST(q.q_pct AS BIGINT) AS q_pct,
         |         (CAST(1 AS BIGINT) << CAST(t_star AS INT)) AS w,
         |         n_ret * (CAST(1 AS BIGINT) << CAST(t_star AS INT)) AS n_est
         |  FROM (SELECT DISTINCT grp, t_star, n_ret FROM rk)
         |  CROSS JOIN (SELECT unnest([25, 50, 75]) AS q_pct) q),
         |est AS (
         |  SELECT p.grp, p.q_pct, p.t_star, p.n_ret AS n_retained, p.n_est,
         |         r.cents AS est_cents
         |  FROM params p JOIN rk r
         |    ON r.grp = p.grp
         |   AND r.pos = ((p.q_pct * p.n_est + 99) // 100 + p.w - 1) // p.w)
         |SELECT est.grp AS event_type, est.q_pct, est.t_star, est.n_retained,
         |       est.n_est, est.est_cents,
         |       CAST(sum(CASE WHEN e.cents <= est.est_cents THEN 1 ELSE 0 END)
         |         AS BIGINT) AS exact_rank,
         |       abs(CAST(sum(CASE WHEN e.cents <= est.est_cents THEN 1 ELSE 0
         |             END) AS BIGINT) * 1000000 // count(*)
         |           - est.q_pct * 10000) AS err_ppm
         |FROM e JOIN est ON e.grp = est.grp
         |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // Replays the sketch exactly: bottom-k of the same 48-bit
    // md5-derived hashes via rank windows (the sketch is a pure
    // function of the item set, so merge order can't diverge it).
    "q_kmv_sketch" ->
      """WITH hu AS (
        |  SELECT DISTINCT event_type,
        |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |           AS BIGINT) AS h
        |  FROM events),
        |ru AS (SELECT event_type, h,
        |              row_number() OVER (PARTITION BY event_type ORDER BY h)
        |                AS rk
        |       FROM hu),
        |ku AS (SELECT event_type, count(*) AS n_kept, max(h) AS kth
        |       FROM ru WHERE rk <= 63 GROUP BY 1),
        |se AS (SELECT event_type,
        |              CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
        |                AS BIGINT) AS h,
        |              CAST(round(value * 100, 0) AS BIGINT) AS cents
        |       FROM events),
        |sm AS (SELECT event_type, h, min(cents) AS cents
        |       FROM se GROUP BY 1, 2),
        |rs AS (SELECT event_type, cents,
        |              row_number() OVER (PARTITION BY event_type ORDER BY h)
        |                AS rk
        |       FROM sm),
        |sk AS (SELECT event_type, cents,
        |              row_number() OVER (PARTITION BY event_type ORDER BY cents)
        |                AS vk,
        |              count(*) OVER (PARTITION BY event_type) AS n
        |       FROM rs WHERE rk <= 63),
        |med AS (SELECT event_type, cents AS sample_median_cents
        |        FROM sk WHERE vk = (n + 1) // 2)
        |SELECT k.event_type, CAST(k.n_kept AS BIGINT) AS n_kept,
        |       k.kth AS kth_user_hash,
        |       CAST(CASE WHEN k.n_kept < 63 THEN k.n_kept
        |            ELSE 62 * 281474976710656 // k.kth END AS BIGINT)
        |         AS distinct_users_est,
        |       m.sample_median_cents
        |FROM ku k JOIN med m USING (event_type)""".stripMargin,
    "q_crosstab_assoc" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS obs
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_tot
        |      FROM cells GROUP BY 1),
        |c AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_tot
        |      FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells)
        |SELECT lang, source, obs, row_tot, col_tot,
        |       CAST((CAST(obs AS HUGEINT) * n * 1000000)
        |         // (CAST(row_tot AS HUGEINT) * col_tot) AS BIGINT)
        |         AS lift_ppm
        |FROM cells JOIN r USING (lang) JOIN c USING (source), t""".stripMargin,
    "q_fd_report" ->
      """SELECT fd, n_lhs, n_pairs, n_pairs - n_lhs AS violating_keys,
        |       CAST(CASE WHEN n_pairs = n_lhs THEN 1 ELSE 0 END AS INT) AS holds
        |FROM (
        |  SELECT 'p_brand->p_type' AS fd, count(DISTINCT p_brand) AS n_lhs,
        |         count(DISTINCT (p_brand, p_type)) AS n_pairs FROM part
        |  WHERE p_brand IS NOT NULL AND p_type IS NOT NULL
        |  UNION ALL
        |  SELECT 'p_name->p_brand', count(DISTINCT p_name),
        |         count(DISTINCT (p_name, p_brand)) FROM part
        |  WHERE p_name IS NOT NULL AND p_brand IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_returnflag->l_linestatus', count(DISTINCT l_returnflag),
        |         count(DISTINCT (l_returnflag, l_linestatus)) FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_orderkey->l_returnflag', count(DISTINCT l_orderkey),
        |         count(DISTINCT (l_orderkey, l_returnflag)) FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_nationkey->c_mktsegment', count(DISTINCT c_nationkey),
        |         count(DISTINCT (c_nationkey, c_mktsegment)) FROM customer
        |  WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL)""".stripMargin,
    "q_join_cardinality" ->
      """WITH cnt AS (
        |  SELECT l_partkey, count(*) AS key_rows FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(CAST(key_rows AS HUGEINT) * key_rows) AS BIGINT)
        |         AS est_pairs,
        |         CAST(sum(key_rows) AS BIGINT) AS n_rows,
        |         count(*) AS n_keys
        |  FROM cnt)
        |SELECT l_partkey, key_rows,
        |       CAST(CAST(key_rows AS HUGEINT) * key_rows AS BIGINT)
        |         AS key_pairs,
        |       CAST((CAST(key_rows AS HUGEINT) * key_rows * 1000000)
        |         // est_pairs AS BIGINT) AS share_ppm,
        |       est_pairs, n_rows, n_keys
        |FROM cnt, tot
        |ORDER BY key_rows DESC, l_partkey LIMIT 10""".stripMargin,
    "q_equidepth_hist" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM orders),
        |b AS (
        |  SELECT price_cents,
        |         CAST(ntile(10) OVER (ORDER BY price_cents, o_orderkey) AS INT)
        |           AS bucket
        |  FROM t)
        |SELECT bucket, count(*) AS n_orders,
        |       min(price_cents) AS lo_cents, max(price_cents) AS hi_cents
        |FROM b GROUP BY 1""".stripMargin,
    "q_winsorized_mean" ->
      """WITH t AS (
        |  SELECT p_brand, p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
        |  FROM part),
        |r AS (
        |  SELECT p_brand, cents,
        |         row_number() OVER (PARTITION BY p_brand
        |           ORDER BY cents, p_partkey) - 1 AS rk0,
        |         count(*) OVER (PARTITION BY p_brand) AS n
        |  FROM t),
        |lo AS (SELECT p_brand, cents AS lo_cents FROM r
        |       WHERE rk0 = n // 10),
        |hi AS (SELECT p_brand, cents AS hi_cents FROM r
        |       WHERE rk0 = n - n // 10 - 1)
        |SELECT t.p_brand, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(greatest(lo_cents, least(hi_cents, cents)))
        |         AS BIGINT) AS sum_wcents,
        |       max(lo_cents) AS lo_cents, max(hi_cents) AS hi_cents,
        |       CAST(CAST(sum(greatest(lo_cents, least(hi_cents, cents)))
        |         AS HUGEINT) * 1000000 // count(*) AS BIGINT)
        |         AS mean_microcents
        |FROM t JOIN lo USING (p_brand) JOIN hi USING (p_brand)
        |GROUP BY 1""".stripMargin,
    "q_mad_anomalies" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM events GROUP BY 1, 2),
        |mr AS (
        |  SELECT event_type, rev,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY rev, day) - 1 AS rk0,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |med AS (SELECT event_type, rev AS med FROM mr
        |        WHERE rk0 = (n - 1) // 2),
        |dev AS (
        |  SELECT d.event_type, d.day, d.rev, m.med,
        |         abs(d.rev - m.med) AS dev
        |  FROM daily d JOIN med m USING (event_type)),
        |dr AS (
        |  SELECT event_type, dev,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY dev, day) - 1 AS rk0,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM dev),
        |mad AS (SELECT event_type, dev AS mad FROM dr
        |        WHERE rk0 = (n - 1) // 2)
        |SELECT d.event_type, d.day, d.rev, d.med, a.mad,
        |       d.dev > a.mad * 3 AS is_anomaly
        |FROM dev d JOIN mad a USING (event_type)""".stripMargin,
    "q_trimmed_price_stats" ->
      """WITH t AS (
        |  SELECT p_brand, p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
        |  FROM part),
        |r AS (
        |  SELECT p_brand, cents,
        |         row_number() OVER (PARTITION BY p_brand
        |           ORDER BY cents, p_partkey) - 1 AS rk0,
        |         count(*) OVER (PARTITION BY p_brand) AS n
        |  FROM t)
        |SELECT p_brand, count(*) AS n_kept,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       min(cents) AS lo_cents, max(cents) AS hi_cents,
        |       CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
        |         AS mean_microcents
        |FROM r
        |WHERE rk0 >= n // 10 AND rk0 < n - n // 10
        |GROUP BY 1""".stripMargin,
    "q_source_deciles" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(length(regexp_split_to_array(lower(text), '\s+'))
        |           AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT source, n_tokens,
        |         CAST(ntile(10) OVER (PARTITION BY source
        |           ORDER BY n_tokens, doc_id) AS INT) AS bucket
        |  FROM t)
        |SELECT source, bucket, count(*) AS n_docs,
        |       min(n_tokens) AS lo_tokens, max(n_tokens) AS hi_tokens
        |FROM b GROUP BY 1, 2""".stripMargin,
    // Replay the sketch arithmetic: per-(d, bucket) mass = sum of the
    // exact counts of every key hashing there; est = min over rows.
    // Same md5-window buckets as the CMS replay below; each row's
    // Σ bucket² in HUGEINT, min over the 4 rows = the estimator.
    "q_f2_sketch" ->
      """WITH cnt AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS s, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT d.d,
        |         CAST(('0x' || substr(md5(s), 1 + 8 * d.d, 8)) AS BIGINT)
        |           % 256 AS bucket,
        |         cnt
        |  FROM cnt, (SELECT unnest([0, 1, 2, 3]) AS d) d),
        |bs AS (SELECT d, bucket, CAST(sum(cnt) AS HUGEINT) AS c
        |       FROM b GROUP BY 1, 2),
        |rf AS (SELECT d, sum(c * c) AS row_f2 FROM bs GROUP BY 1),
        |est AS (SELECT min(row_f2) AS est_f2 FROM rf),
        |ex AS (SELECT sum(CAST(cnt AS HUGEINT) * cnt) AS exact_f2,
        |              CAST(sum(cnt) AS BIGINT) AS n_rows,
        |              CAST(count(*) AS BIGINT) AS n_keys
        |       FROM cnt)
        |SELECT CAST(est_f2 AS BIGINT) AS est_f2,
        |       CAST(exact_f2 AS BIGINT) AS exact_f2,
        |       CAST(est_f2 - exact_f2 AS BIGINT) AS overcount,
        |       n_rows, n_keys
        |FROM ex CROSS JOIN est""".stripMargin,
    "q_cms_user_counts" ->
      """WITH cnt AS (
        |  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
        |b AS (
        |  SELECT user_id, exact_cnt, d.d,
        |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |               1 + 8 * d.d, 8)) AS BIGINT) % 256 AS bucket
        |  FROM cnt, (SELECT unnest([0, 1, 2, 3]) AS d) d),
        |bs AS (SELECT d, bucket, CAST(sum(exact_cnt) AS BIGINT) AS s
        |       FROM b GROUP BY 1, 2),
        |est AS (SELECT b.user_id, min(bs.s) AS est_cnt
        |        FROM b JOIN bs ON b.d = bs.d AND b.bucket = bs.bucket
        |        GROUP BY 1),
        |top AS (SELECT user_id, exact_cnt FROM cnt
        |        ORDER BY exact_cnt DESC, user_id LIMIT 20)
        |SELECT t.user_id, t.exact_cnt, e.est_cnt,
        |       e.est_cnt - t.exact_cnt AS overcount
        |FROM top t JOIN est e USING (user_id)""".stripMargin,
    "q_distinct_mergeable" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
        |       true AS estimate_in_bounds
        |FROM events GROUP BY 1""".stripMargin,
    "q_rolling_distinct" ->
      """WITH ev AS (
        |  SELECT DISTINCT event_type, user_id,
        |         epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT event_type, day FROM ev),
        |contrib AS (
        |  SELECT e.event_type, e.user_id, e.day + i AS wday
        |  FROM ev e, (SELECT unnest(range(0, 7)) AS i))
        |SELECT c.event_type, c.wday AS day,
        |       count(DISTINCT c.user_id) AS exact_rolling,
        |       true AS estimate_in_bounds
        |FROM contrib c
        |JOIN days d ON d.event_type = c.event_type AND d.day = c.wday
        |GROUP BY 1, 2""".stripMargin,
    "q_calibration" -> calibrationSql,
    "q_isotonic_calibration" -> isotonicSql,
    "q_brier_calibrated" ->
      s"""WITH iso0 AS ($isotonicSql),
         |e AS (
         |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS sc,
         |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
         |           AS label
         |  FROM events),
         |g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(label) AS BIGINT) AS n_pos
         |      FROM e GROUP BY 1),
         |c AS (SELECT sc, n, n_pos,
         |             CAST(COALESCE(SUM(n) OVER (ORDER BY sc
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |               0) AS BIGINT) AS cb,
         |             CAST(SUM(n) OVER () AS BIGINT) AS total
         |      FROM g),
         |rows0 AS (SELECT n, n_pos, CAST((10 * cb) // total AS INT)
         |            AS bucket FROM c),
         |j AS (SELECT r.n, r.n_pos, i.iso_micro
         |      FROM rows0 r JOIN iso0 i ON i.bucket = r.bucket),
         |agged AS (
         |  SELECT CAST(sum(n) AS HUGEINT) AS n,
         |         CAST(sum(n_pos) AS HUGEINT) AS np,
         |         sum(CAST(n_pos AS HUGEINT)
         |           * (1000000 - iso_micro) * (1000000 - iso_micro)
         |           + CAST(n - n_pos AS HUGEINT)
         |           * iso_micro * iso_micro) AS num
         |  FROM j),
         |p0t AS (SELECT n, np, num, np * 1000000 // n AS p0 FROM agged)
         |SELECT CAST(n AS BIGINT) AS n,
         |       CAST(num // (n * 1000000) AS BIGINT) AS brier_micro,
         |       CAST(p0 AS BIGINT) AS p0_micro,
         |       CAST((np * (1000000 - p0) * (1000000 - p0)
         |         + (n - np) * p0 * p0) // (n * 1000000) AS BIGINT)
         |         AS brier0_micro
         |FROM p0t""".stripMargin,

    "q_hh_drift" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS d FROM events),
        |sp AS (SELECT min(d) AS lo, max(d) AS hi FROM e),
        |c AS (SELECT user_id,
        |             CASE WHEN d < (lo + hi + 1) // 2 THEN 0 ELSE 1 END
        |               AS period,
        |             CAST(count(*) AS BIGINT) AS cnt
        |      FROM e CROSS JOIN sp GROUP BY 1, 2),
        |t0 AS (SELECT user_id, cnt AS cnt_p0,
        |              CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
        |                AS INT) AS rank_p0
        |       FROM c WHERE period = 0
        |       ORDER BY cnt DESC, user_id LIMIT 10),
        |t1 AS (SELECT user_id, cnt AS cnt_p1,
        |              CAST(row_number() OVER (ORDER BY cnt DESC, user_id)
        |                AS INT) AS rank_p1
        |       FROM c WHERE period = 1
        |       ORDER BY cnt DESC, user_id LIMIT 10)
        |SELECT COALESCE(t0.user_id, t1.user_id) AS user_id,
        |       CASE WHEN t0.user_id IS NULL THEN 'entered'
        |            WHEN t1.user_id IS NULL THEN 'left'
        |            ELSE 'stayed' END AS status,
        |       COALESCE(cnt_p0, 0) AS cnt_p0, COALESCE(cnt_p1, 0) AS cnt_p1,
        |       COALESCE(rank_p0, 0) AS rank_p0,
        |       COALESCE(rank_p1, 0) AS rank_p1
        |FROM t0 FULL OUTER JOIN t1 ON t0.user_id = t1.user_id""".stripMargin,
    // Same distinct-score cumsum as calibration, plus the cumulative
    // positives; each decile's operating point is its first group.
    "q_pr_points" ->
      """WITH e AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS sc,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(label) AS BIGINT) AS n_pos
        |      FROM e GROUP BY 1),
        |c AS (SELECT sc, n, n_pos,
        |             CAST(COALESCE(SUM(n) OVER (ORDER BY sc
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS cb,
        |             CAST(COALESCE(SUM(n_pos) OVER (ORDER BY sc
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS cpb,
        |             CAST(SUM(n) OVER () AS BIGINT) AS total,
        |             CAST(SUM(n_pos) OVER () AS BIGINT) AS pt
        |      FROM g),
        |b AS (SELECT *, CAST((10 * cb) // total AS INT) AS bucket,
        |             row_number() OVER (
        |               PARTITION BY CAST((10 * cb) // total AS INT)
        |               ORDER BY cb) AS rn
        |      FROM c)
        |SELECT bucket, sc AS threshold_cents,
        |       total - cb AS n_ge, pt - cpb AS tp,
        |       (total - cb) - (pt - cpb) AS fp, cpb AS fn,
        |       CAST(CAST(pt - cpb AS HUGEINT) * 1000000 // (total - cb)
        |         AS BIGINT) AS precision_micro,
        |       CAST(CAST(pt - cpb AS HUGEINT) * 1000000 // pt
        |         AS BIGINT) AS recall_micro,
        |       CAST(CAST(2 AS HUGEINT) * (pt - cpb) * 1000000
        |         // (2 * (pt - cpb) + ((total - cb) - (pt - cpb)) + cpb)
        |         AS BIGINT) AS f1_micro
        |FROM b WHERE rn = 1""".stripMargin,
    // Tie-corrected Mann-Whitney replay in exact integers.
    "q_auc_purchase" ->
      """WITH e AS (
        |  SELECT CAST(round(value * 100, 0) AS BIGINT) AS sc,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |g AS (SELECT sc, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(label) AS BIGINT) AS n_pos
        |      FROM e GROUP BY 1),
        |c AS (SELECT sc, n, n_pos,
        |             CAST(COALESCE(SUM(n) OVER (ORDER BY sc
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS cb
        |      FROM g),
        |s AS (SELECT CAST(sum((2 * cb + n + 1) * n_pos) AS BIGINT) AS sum_rank2,
        |             CAST(sum(n_pos) AS BIGINT) AS np,
        |             CAST(sum(n - n_pos) AS BIGINT) AS nn
        |      FROM c)
        |SELECT CAST(CAST(sum_rank2 - np * (np + 1) AS HUGEINT) * 1000000
        |         // (2 * np * nn) AS BIGINT) AS auc_micro,
        |       np AS n_pos, nn AS n_neg
        |FROM s""".stripMargin,
    // Smallest integer T with count(pc <= T)·2 >= n — counts only step
    // at data values, so T is the minimal data value satisfying it.
    "q_script_median" ->
      """WITH t AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
        |  FROM orders),
        |r AS (SELECT pc, row_number() OVER (ORDER BY pc) AS rn FROM t)
        |SELECT min(pc) AS median_cents FROM r
        |WHERE 2 * rn >= (SELECT count(*) FROM t)""".stripMargin,
    // Bitmaps are exact: straight hash-equality against the set algebra.
    "q_bitmap_audience" ->
      """WITH f AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1)
        |SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS n_users FROM f
        |UNION ALL
        |SELECT 'intersection', CAST(sum(c * p) AS BIGINT) FROM f
        |UNION ALL
        |SELECT 'difference', CAST(sum(c * (1 - p)) AS BIGINT) FROM f""".stripMargin,
    // Exact set algebra; the sketch side of the contract is the
    // in-bounds flag (same pattern as q_distinct_mergeable).
    "q_theta_audience" ->
      """WITH f AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1)
        |SELECT op, exact_count, true AS estimate_in_bounds
        |FROM (
        |  SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS exact_count FROM f
        |  UNION ALL
        |  SELECT 'intersection', CAST(sum(c * p) AS BIGINT) FROM f
        |  UNION ALL
        |  SELECT 'difference', CAST(sum(c * (1 - p)) AS BIGINT) FROM f)""".stripMargin,
    // Exact-rank lower medians: same (value, key) tiebreak both engines.
    "q_mad_prices" ->
      """WITH p AS (
        |  SELECT p_brand AS brand, p_partkey,
        |         CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cents
        |  FROM part),
        |r1 AS (SELECT brand, p_partkey, cents,
        |              row_number() OVER (PARTITION BY brand
        |                ORDER BY cents, p_partkey) - 1 AS rk0,
        |              count(*) OVER (PARTITION BY brand) AS n
        |       FROM p),
        |med AS (SELECT brand, cents AS med_cents FROM r1
        |        WHERE rk0 = (n - 1) // 2),
        |d AS (SELECT p.brand, p.p_partkey,
        |             abs(p.cents - m.med_cents) AS dev
        |      FROM p JOIN med m USING (brand)),
        |r2 AS (SELECT brand, dev,
        |              row_number() OVER (PARTITION BY brand
        |                ORDER BY dev, p_partkey) - 1 AS rk0,
        |              count(*) OVER (PARTITION BY brand) AS n
        |       FROM d)
        |SELECT r2.brand, m.med_cents, r2.dev AS mad_cents,
        |       CAST(r2.n AS BIGINT) AS n_parts
        |FROM r2 JOIN med m USING (brand)
        |WHERE rk0 = (n - 1) // 2""".stripMargin,
    // Per-group MG recall guarantee ⇒ equals the full per-group answer.
    "q_lang_heavy_tokens" ->
      """WITH w AS (
        |  SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS item
        |  FROM documents),
        |t AS (SELECT lang, count(*) AS total FROM w GROUP BY 1)
        |SELECT w.lang, item, count(*) AS n_occ
        |FROM w JOIN t USING (lang)
        |GROUP BY w.lang, item, t.total
        |HAVING count(*) * 32 > t.total""".stripMargin,
    // MG recall guarantee ⇒ equals the full-groupBy heavy-key answer.
    "q_heavy_hitters" ->
      """SELECT event_type AS item, count(*) AS n_events
        |FROM events GROUP BY 1
        |HAVING count(*) > (SELECT count(*) FROM events) / 8.0""".stripMargin,
    "q_doclen_histogram" ->
      """WITH b AS (
        |  SELECT CAST(length(printf('%b', n_chars)) - 1 AS INT) AS log2_bucket
        |  FROM documents)
        |SELECT log2_bucket,
        |       CAST(1::BIGINT << log2_bucket AS BIGINT) AS bucket_lo,
        |       CAST((1::BIGINT << (log2_bucket + 1)) - 1 AS BIGINT) AS bucket_hi,
        |       count(*) AS n_docs
        |FROM b GROUP BY 1""".stripMargin,
    "q_data_profile" ->
      """SELECT 'c_custkey' AS col_name, count(DISTINCT c_custkey) AS n_distinct,
        |       count(*) - count(c_custkey) AS n_nulls FROM customer
        |UNION ALL
        |SELECT 'c_name', count(DISTINCT c_name), count(*) - count(c_name) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', count(DISTINCT c_nationkey), count(*) - count(c_nationkey) FROM customer
        |UNION ALL
        |SELECT 'c_acctbal', count(DISTINCT c_acctbal), count(*) - count(c_acctbal) FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', count(DISTINCT c_mktsegment), count(*) - count(c_mktsegment) FROM customer"""
        .stripMargin)
}
