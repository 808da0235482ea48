package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic sampling for training-data mixtures (SURVEY.md §2.3
  * addendum): hash-based selection instead of RNG, so a sample is
  * reproducible across runs, engines, retries and cluster layouts —
  * the property a 100 TB data pipeline needs for auditable mixtures
  * (a seeded `sample()` changes with partitioning; a key-hash never does).
  */
object Sampling {

  /** Per-language stratified sample: keep ~rate% of each stratum by
    * md5(doc_id) bucket. */
  def stratifiedSample(spark: SparkSession, dir: String, ratePct: Int = 10): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .filter(col("bucket") < ratePct)
      .select("doc_id", "lang", "source", "n_chars", "bucket")

  /** Mixture accounting: how the sample distributes over strata — the
    * report a mixture pipeline emits next to every training shard. */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val total = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_total"))
    val sampled = stratifiedSample(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    total.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        (coalesce(col("n_sampled"), lit(0L)).cast("double") / col("n_total"))
          .as("sample_rate"))
  }

  /** Exact-k deterministic reservoir per stratum: rank every doc by its
    * md5 (a fixed random permutation of the keys) and keep the first k
    * per language — exactly k rows per stratum, reproducible anywhere,
    * and Spark's WindowGroupLimit makes it a per-partition top-k rather
    * than a full per-stratum sort. The rate-based sample above keeps
    * ~rate%; this one guarantees the count. */
  def reservoirSample(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("tag"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("doc_id").cast("string")).as("tag"))
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= k)
      .select("lang", "pick", "doc_id", "n_chars")
  }

  /** Temperature-based mixture re-weighting (the multilingual
    * count^α formula, α = 0.5): sampling weight ∝ sqrt(stratum size),
    * which up-weights low-resource strata relative to proportional
    * sampling. sqrt is correctly-rounded IEEE (safe cross-engine, no
    * libm drift) and weights sum as exact integer micro-units, so the
    * normalized share is one deterministic division. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight_micro",
        floor(sqrt(col("n_docs").cast("double")) * 1000000.0 + 0.5).cast("long"))
    val total = counts.agg(sum("weight_micro").as("total_micro"))
    counts.join(total)
      .select(col("lang"), col("n_docs"), col("weight_micro"),
        (col("weight_micro").cast("double") / col("total_micro"))
          .as("sample_share"))
  }

  /** Weighted sampling, probability ∝ token count, by SYSTEMATIC PPS
    * selection over the distributed exact cumsum: lay the docs'
    * weight intervals [cum, cum+w) end to end in deterministic md5
    * shuffle order, then take k evenly-strided sample points
    * (offset s/2, stride s = W div k) — a doc is drawn once per point
    * its interval covers, so inclusion probability is ∝ weight with
    * ZERO floating point (classic PPS systematic sampling; the
    * log-free alternative to Efraimidis-Spirakis exponential keys,
    * whose u^(1/w) ranks can't hash-match across engines). The cumsum
    * is [[Packing.withGlobalCumsum]] — every stage partitioned. Exactly
    * k draws total (spec asserts Σ n_picks = k), multi-draw docs
    * surface with n_picks > 1 (the oversample-large-docs accounting a
    * mixture audit needs). */
  def ppsSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    ppsSampleOf(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("w"),
          md5(col("doc_id").cast("string")).as("rnd")),
      k)

  /** [[ppsSample]] over an explicit (doc_id, w, rnd) weight table —
    * the hook that lets a caller who ALREADY materialized the token
    * weights (htEstimate) feed them in instead of re-splitting the
    * corpus text a second time. Plan identical to ppsSample when fed
    * the standard projection. */
  private[graft] def ppsSampleOf(docs: DataFrame, k: Int): DataFrame = {
    val cum = Packing.withGlobalCumsum(docs, "w", Seq("rnd", "doc_id"))
    val tot = cum.agg(sum("w").as("wtot"))
    // g(x) = #points below x = floor((x − off + s − 1) / s) clamped to
    // [0, k]; operands stay non-negative so truncating `div` == floor
    // on both engines. n_picks = g(cum + w) − g(cum).
    cum.crossJoin(tot)
      .selectExpr("doc_id", "w", "cum_before",
        s"wtot div ${k}L AS s")
      .selectExpr("doc_id", "w", "cum_before",
        s"least(greatest((cum_before + w - (s div 2) + s - 1) div s, 0L), ${k}L)" +
          " AS g_hi",
        s"least(greatest((cum_before - (s div 2) + s - 1) div s, 0L), ${k}L)" +
          " AS g_lo")
      .select(col("doc_id"), col("w").as("n_tokens"),
        (col("g_hi") - col("g_lo")).as("n_picks"))
      .filter(col("n_picks") >= 1)
  }

  /** HORVITZ-THOMPSON / Hansen-Hurwitz estimator audit — the loop
    * closer for [[ppsSample]]: re-estimate a corpus total (total
    * characters) from ONLY the token-weighted sample, weighting each
    * sampled doc by the inverse of its selection intensity
    * (Ŷ = Σ picks·y_i·W div (k·w_i)), and report the estimate next to
    * the true total with the error in ppm. This is the audit a
    * sampling pipeline ships alongside its sample: proof the design
    * weights reconstruct known totals before anyone trusts them on
    * unknown ones. Per-doc floor-div keeps every term integer-exact,
    * and DECIMAL sums are order-independent, so estimate AND error
    * replay digit-for-digit.
    *
    * Plan: the sample (≤k rows) joins the doc store on its key and
    * broadcasts the 1-row corpus totals — sample-sized work after the
    * one corpus aggregate [[ppsSample]] already pays. */
  def htEstimate(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // Checkpointed (r19): the narrow (id, chars, w, rnd) weight table —
    // the corpus totals, the PPS cumsum AND the chars join-back all
    // consume it, and without the materialization the totals branch
    // and the sampler EACH re-ran the full text tokenize (the one
    // expensive kernel here). No text column is materialized.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("chars"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("w"),
        md5(col("doc_id").cast("string")).as("rnd"))
      .localCheckpoint()
    val tot = docs.agg(sum("w").as("wtot"),
      sum("chars").as("actual_chars"))
    // The ≤k-row sample side is broadcast-pinned: the checkpoint
    // strips stats, and an SMJ would shuffle the whole weight table
    // to meet k rows.
    broadcast(ppsSampleOf(docs.select("doc_id", "w", "rnd"), k))
      .join(docs.select("doc_id", "chars"), "doc_id")
      .crossJoin(tot)
      .select(
        expr(s"CAST(n_picks AS DECIMAL(38,0)) * chars * wtot" +
          s" div (${k}L * n_tokens)").as("term"),
        col("wtot"), col("actual_chars"))
      .groupBy("wtot", "actual_chars")
      .agg(sum("term").as("est0"), count(lit(1)).as("n_sampled"))
      .selectExpr("n_sampled", "wtot AS total_tokens", "actual_chars",
        "CAST(est0 AS BIGINT) AS est_chars",
        "CAST(abs(est0 - actual_chars) * 1000000 div actual_chars" +
          " AS BIGINT) AS err_ppm")
  }

  /** Largest-remainder apportionment of a fixed token budget across
    * sources — the mix-planning step that turns proportions into an
    * EXACT integer allocation (Σ alloc = budget, guaranteed): per-source
    * quota = ⌊budget·tokens/total⌋, and the budget − Σ quota leftover
    * units (fewer than |sources|) go to the largest remainders
    * (source-name tiebreak). Hamilton's method, all integer — two runs,
    * any engine, any partitioning produce the same manifest, which is
    * what makes a training-mix release auditable.
    *
    * Scale: one aggregate over the corpus; the rank window runs over
    * |sources| post-aggregate rows (bounded), never data rows. The
    * DECIMAL(38) product keeps budget·tokens exact past int64 at real
    * corpus sizes. */
  def mixAllocation(spark: SparkSession, dir: String,
      budget: Long = 100000L): DataFrame = {
    // Checkpointed (r19): |sources| rows; the total and the quota
    // projection both re-ran the corpus tokenize without it (and
    // mixEpochs inherits the same single pass).
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens"))
      .localCheckpoint()
    val total = toks.agg(sum("n_tokens").as("w"))
    val quotas = toks.crossJoin(total)
      .select(col("source"), col("n_tokens"),
        expr(s"CAST($budget AS DECIMAL(38,0)) * n_tokens div w").as("quota"),
        expr(s"CAST(CAST($budget AS DECIMAL(38,0)) * n_tokens % w AS BIGINT)")
          .as("rem"))
    val leftover = quotas.agg((lit(budget) - sum("quota")).as("l"))
    // Largest-remainder rank via the |sources|² triangular broadcast
    // join (the curriculumOrder srcIdx pattern) instead of an
    // unpartitioned window: rank = 1 + #rows strictly before under the
    // (rem desc, source) total order — same integers, and the bounded
    // rank stays PROVABLY window-free now that the checkpointed toks
    // table would hide the aggregate from the window-boundedness guard.
    val rk = quotas.as("a")
      .join(broadcast(quotas.select(col("rem").as("b_rem"),
        col("source").as("b_source"))),
        col("b_rem") > col("rem") ||
          (col("b_rem") === col("rem") && col("b_source") < col("source")),
        "left")
      .groupBy("source", "n_tokens", "quota")
      .agg((count(col("b_source")) + 1).as("rk"))
    rk.crossJoin(leftover)
      .select(col("source"), col("n_tokens"), col("quota"),
        when(col("rk") <= col("l"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("quota") + col("extra"))
  }

  /** Data-constrained epoch schedule (the Muennighoff et al. 2023
    * "Scaling Data-Constrained Language Models" planning table): given
    * the Hamilton token allocation per source and what each source
    * actually has, how many FULL passes over the source the training
    * stream takes, the size of the final partial pass, and the unique
    * fraction of the served tokens in ppm (1 000 000 ⇔ no repetition —
    * the number that says how hard a source is being repeated). Pure
    * integer arithmetic on the |sources|-row allocation table, so the
    * schedule is as auditable as the mix manifest it extends. */
  def mixEpochs(spark: SparkSession, dir: String,
      budget: Long = 100000L): DataFrame =
    mixAllocation(spark, dir, budget)
      .select(col("source"), col("n_tokens").as("available_tokens"),
        col("alloc"))
      .selectExpr("source", "available_tokens", "alloc",
        "alloc div greatest(available_tokens, 1L) AS full_epochs",
        "alloc % greatest(available_tokens, 1L) AS partial_tokens",
        "(alloc + available_tokens - 1) div greatest(available_tokens, 1L)" +
          " AS n_epochs",
        "CAST(CAST(least(available_tokens, alloc) AS DECIMAL(38,0))" +
          " * 1000000 div greatest(alloc, 1L) AS BIGINT) AS unique_ppm")

  /** Candidate-pool size and negatives-per-user for
    * [[negativeSampling]]. */
  val NegPoolSize = 128
  val NegK = 3

  /** Deterministic NEGATIVE SAMPLING — the training-pair generator for
    * recommenders / contrastive objectives: for every customer, k parts
    * they have NEVER purchased, drawn by md5(user#part) rank from a
    * bounded candidate pool. Hash-ranked selection makes every
    * negative a pure key function (reproducible across runs, engines
    * and partitionings — retraining sees the same pairs), where a
    * seeded sample() changes with the partitioning.
    *
    * Plan/scale shape: users × pool is a DELIBERATE bounded cross join
    * — the pool is FIXED-SIZE (the [[NegPoolSize]] parts with smallest
    * md5(partkey): a deterministic uniform catalog sample whose size
    * does NOT grow with the corpus — at 100 TB it is a sampled /
    * popularity-sketch table, never the full catalog), broadcast. The
    * exclusion set is purchased ∩ POOL only (bounded by the pool's
    * share of purchases — the reason it broadcasts where the full
    * purchase set never could), applied as a broadcast anti join so
    * the |users|×|pool| candidate rows never shuffle for the
    * exclusion. Per-user top-k is row_number + filter — Spark's
    * PARTIAL WindowGroupLimit caps each task's output at k rows per
    * user BEFORE the window exchange, so the shuffle carries
    * ≤ k·tasks rows per user, never the pool fan-out. (A typed
    * bottom-k Aggregator was tried and REVERTED: ObjectHashAggregate
    * falls back to sort-based past 128 groups, and |users| groups made
    * it strictly slower than the group-limited window.)
    *
    * The rank key is a TWO-LEVEL hash: one md5 per USER and one per
    * POOL PART, combined on the candidate row with pure integer mixing
    * (xor / multiply / shift) — O(|users| + |pool|) md5 evaluations
    * instead of O(|users|·|pool|) (a per-pair md5 measured 2.4 s of
    * the 4.5 s query at sf0.1; per-key hashing is the difference
    * between hashing the CATALOG and hashing the cross product at
    * 100 TB). Both mixing ops replay exactly in DuckDB (`xor()`). */
  def negativeSampling(spark: SparkSession, dir: String,
      k: Int = NegK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pool = Tables.part(spark, dir)
      .select(col("p_partkey"),
        md5(col("p_partkey").cast("string")).as("ptag"))
      .orderBy(col("ptag"), col("p_partkey")).limit(NegPoolSize)
      .select(col("p_partkey"),
        expr("CAST(conv(substr(ptag, 1, 12), 16, 10) AS BIGINT)").as("hp"))
      // 128 rows, three broadcast consumers (cross join, exclusion
      // semi, exclusion anti) — materialized once so each broadcast
      // does not replay the TakeOrdered job.
      .localCheckpoint()
    val users = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust")).distinct()
      .select(col("cust"),
        expr("CAST(conv(substr(md5(CAST(cust AS STRING)), 1, 12), 16, 10)" +
          " AS BIGINT)").as("hc"))
      // CollapseProject would otherwise float this md5 ABOVE the cross
      // join — evaluated once per CANDIDATE row (measured 1.9M md5s,
      // 1.5 s) instead of once per user; the checkpoint pins it at
      // |users| evaluations, leaving pure integer ops on the fan-out.
      .localCheckpoint()
    // SERVE the exclusion set from the persisted purchase graph (r19 —
    // the kCorePeel/assortativity discipline: the graph IS the distinct
    // (customer, part) table, built once per corpus as untimed ingest;
    // the r18 shape re-ran the lineitem⋈orders fact join + distinct
    // here on every run). Semi-filter by the pool BEFORE anything
    // shuffles; the result stays pool-bounded.
    val purchasedInPool = spark.read
      .parquet(GraphOps.PurchaseGraph.path(spark, dir))
      .select(col("c").as("cust"), col("p").as("p_partkey"))
      .join(pool.select("p_partkey"), Seq("p_partkey"), "left_semi")
      // Pool-bounded (|purchases ∩ pool| rows); consumed by the anti
      // join's broadcast build — materialized so the build is a copy,
      // not a re-run of the graph-scan semi join.
      .localCheckpoint()
    val w = Window.partitionBy("cust").orderBy(col("h"), col("p_partkey"))
    users.crossJoin(pool)
      .join(broadcast(purchasedInPool), Seq("cust", "p_partkey"), "left_anti")
      .withColumn("h0", expr("hc ^ (hp * 8191L)"))
      .withColumn("h", expr("h0 ^ shiftright(h0, 17)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("cust"), col("p_partkey").as("neg_part"), col("rk"))
  }

  /** CAPTURE–RECAPTURE corpus-size estimation (Lincoln–Petersen +
    * Chapman's bias-corrected form) — "how big is the true universe"
    * from two OVERLAPPING crawls, the coverage-planning question a
    * crawl operator answers before paying for crawl three: if crawl A
    * saw n₁ docs, crawl B saw n₂, and m showed up in both, then
    * N̂ ≈ n₁n₂/m (Petersen) or (n₁+1)(n₂+1)/(m+1) − 1 (Chapman,
    * finite-sample corrected) — both exact integer floor-divs here.
    * The two "crawls" are independent md5 coins per doc (60% / 50%),
    * so the whole experiment replays bit-identically; the true N and
    * the signed estimator error in ppm ride along as the audit
    * columns this synthetic setting makes checkable.
    *
    * Plan/scale shape: one documents scan → md5-coin projection →
    * ONE 1-row conditional aggregate → pure projection. */
  def captureRecapture(spark: SparkSession, dir: String): DataFrame = {
    def coin(seed: String) =
      s"CAST(conv(substr(md5(concat('$seed', CAST(doc_id AS STRING)))," +
        s" 1, 8), 16, 10) AS BIGINT) % 10"
    Tables.documents(spark, dir)
      .select(expr(s"${coin("crawl-a-")} < 6").as("in_a"),
        expr(s"${coin("crawl-b-")} < 5").as("in_b"))
      .agg(count(lit(1)).as("n_true"),
        count(when(col("in_a"), 1)).as("n_a"),
        count(when(col("in_b"), 1)).as("n_b"),
        count(when(col("in_a") && col("in_b"), 1)).as("n_overlap"))
      .selectExpr("n_true", "n_a", "n_b", "n_overlap",
        "CAST((CAST(n_a AS DECIMAL(38,0)) + 1) * (n_b + 1)" +
          " div (n_overlap + 1) - 1 AS BIGINT) AS chapman_hat",
        "CAST(CASE WHEN n_overlap = 0 THEN NULL ELSE" +
          " CAST(n_a AS DECIMAL(38,0)) * n_b div n_overlap END AS BIGINT)" +
          " AS petersen_hat")
      .selectExpr("*",
        "CAST(CASE WHEN chapman_hat >= n_true THEN" +
          " (CAST(chapman_hat AS DECIMAL(38,0)) - n_true) * 1000000" +
          " div n_true ELSE" +
          " -((CAST(n_true AS DECIMAL(38,0)) - chapman_hat) * 1000000" +
          " div n_true) END AS BIGINT) AS err_ppm")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_capture_recapture" -> captureRecapture,
    "q_negative_sampling" -> ((s, d) => negativeSampling(s, d)),
    "q_mix_epochs" -> ((s, d) => mixEpochs(s, d)),
    "q_mix_alloc" -> ((s, d) => mixAllocation(s, d)),
    "q_pps_sample" -> ((s, d) => ppsSample(s, d)),
    "q_ht_estimate" -> ((s, d) => htEstimate(s, d)),
    "q_temperature_mix" -> temperatureMixture,
    "q_stratified_sample" -> ((s, d) => stratifiedSample(s, d)),
    "q_reservoir_sample" -> ((s, d) => reservoirSample(s, d)),
    "q_sample_mixture" -> sampleMixture)

  private val sampleSql =
    """SELECT doc_id, lang, source, n_chars,
      |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10""".stripMargin

  /** The Hamilton-allocation pipeline as a shared CTE chain ending in
    * `alloc_t` — consumed by both the q_mix_alloc and q_mix_epochs
    * oracles so allocation and schedule cannot drift. */
  private val mixAllocCte: String =
    """WITH t AS (
      |  SELECT source,
      |         sum(length(regexp_split_to_array(lower(text), '\s+')))
      |           AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT sum(n_tokens) AS w FROM t),
      |q AS (SELECT source, n_tokens,
      |             100000 * n_tokens // tot.w AS quota,
      |             100000 * n_tokens % tot.w AS rem
      |      FROM t CROSS JOIN tot),
      |l AS (SELECT 100000 - sum(quota) AS lo FROM q),
      |r AS (SELECT source, n_tokens, quota, rem,
      |             row_number() OVER (ORDER BY rem DESC, source) AS rk
      |      FROM q),
      |alloc_t AS (
      |  SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
      |         CAST(quota AS BIGINT) AS quota,
      |         CAST(CASE WHEN rk <= l.lo THEN 1 ELSE 0 END AS BIGINT)
      |           AS extra,
      |         CAST(quota + CASE WHEN rk <= l.lo THEN 1 ELSE 0 END
      |           AS BIGINT) AS alloc
      |  FROM r CROSS JOIN l)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_capture_recapture" ->
      """WITH flags AS (
        |  SELECT CAST(('0x' || substr(md5('crawl-a-'
        |           || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 6
        |           AS in_a,
        |         CAST(('0x' || substr(md5('crawl-b-'
        |           || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 5
        |           AS in_b
        |  FROM documents),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_true,
        |         CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS n_a,
        |         CAST(count(CASE WHEN in_b THEN 1 END) AS BIGINT) AS n_b,
        |         CAST(count(CASE WHEN in_a AND in_b THEN 1 END) AS BIGINT)
        |           AS n_overlap
        |  FROM flags),
        |est AS (
        |  SELECT *,
        |         CAST((CAST(n_a AS HUGEINT) + 1) * (n_b + 1)
        |           // (n_overlap + 1) - 1 AS BIGINT) AS chapman_hat,
        |         CAST(CASE WHEN n_overlap = 0 THEN NULL ELSE
        |           CAST(n_a AS HUGEINT) * n_b // n_overlap END AS BIGINT)
        |           AS petersen_hat
        |  FROM agg)
        |SELECT n_true, n_a, n_b, n_overlap, chapman_hat, petersen_hat,
        |       CAST(CASE WHEN chapman_hat >= n_true THEN
        |         (CAST(chapman_hat AS HUGEINT) - n_true) * 1000000
        |         // n_true ELSE
        |         -((CAST(n_true AS HUGEINT) - chapman_hat) * 1000000
        |         // n_true) END AS BIGINT) AS err_ppm
        |FROM est""".stripMargin,
    "q_negative_sampling" ->
      s"""WITH pool AS (
         |  SELECT p_partkey,
         |         CAST(('0x' || substr(ptag, 1, 12)) AS BIGINT) AS hp
         |  FROM (
         |    SELECT p_partkey, md5(CAST(p_partkey AS VARCHAR)) AS ptag
         |    FROM part ORDER BY ptag, p_partkey LIMIT $NegPoolSize)),
         |users AS (
         |  SELECT cust,
         |         CAST(('0x' || substr(md5(CAST(cust AS VARCHAR)), 1, 12))
         |              AS BIGINT) AS hc
         |  FROM (SELECT DISTINCT o_custkey AS cust FROM orders)),
         |purch AS (
         |  SELECT DISTINCT o_custkey AS cust, l_partkey AS p_partkey
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_partkey IN (SELECT p_partkey FROM pool)),
         |cand AS (
         |  SELECT u.cust, p.p_partkey,
         |         xor(xor(u.hc, p.hp * 8191),
         |             xor(u.hc, p.hp * 8191) >> 17) AS h
         |  FROM users u, pool p
         |  WHERE NOT EXISTS (SELECT 1 FROM purch q
         |                    WHERE q.cust = u.cust
         |                      AND q.p_partkey = p.p_partkey)),
         |r AS (
         |  SELECT cust, p_partkey,
         |         CAST(row_number() OVER (PARTITION BY cust
         |           ORDER BY h, p_partkey) AS INT) AS rk
         |  FROM cand)
         |SELECT cust, p_partkey AS neg_part, rk FROM r
         |WHERE rk <= $NegK""".stripMargin,
    "q_mix_alloc" ->
      s"""$mixAllocCte
         |SELECT source, n_tokens, quota, extra, alloc FROM alloc_t"""
        .stripMargin,
    "q_mix_epochs" ->
      s"""$mixAllocCte
         |SELECT source, n_tokens AS available_tokens, alloc,
         |       alloc // greatest(n_tokens, 1) AS full_epochs,
         |       alloc % greatest(n_tokens, 1) AS partial_tokens,
         |       (alloc + n_tokens - 1) // greatest(n_tokens, 1) AS n_epochs,
         |       CAST(CAST(least(n_tokens, alloc) AS HUGEINT) * 1000000
         |         // greatest(alloc, 1) AS BIGINT) AS unique_ppm
         |FROM alloc_t""".stripMargin,
    "q_ht_estimate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
        |           AS w,
        |         CAST(n_chars AS BIGINT) AS chars,
        |         md5(CAST(doc_id AS VARCHAR)) AS rnd
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w, chars,
        |         CAST(COALESCE(SUM(w) OVER (ORDER BY rnd, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before,
        |         CAST(SUM(w) OVER () AS BIGINT) // 100 AS s
        |  FROM d),
        |sm AS (
        |  SELECT doc_id, w, chars,
        |         least(greatest((cum_before + w - (s // 2) + s - 1) // s, 0),
        |               100)
        |         - least(greatest((cum_before - (s // 2) + s - 1) // s, 0),
        |               100) AS n_picks
        |  FROM c),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS wtot,
        |             CAST(sum(chars) AS BIGINT) AS actual_chars
        |      FROM d),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
        |             sum(CAST(n_picks AS HUGEINT) * chars * t.wtot
        |                 // (100 * w)) AS est0
        |      FROM sm CROSS JOIN t WHERE n_picks >= 1)
        |SELECT e.n_sampled, t.wtot AS total_tokens, t.actual_chars,
        |       CAST(e.est0 AS BIGINT) AS est_chars,
        |       CAST(abs(e.est0 - t.actual_chars) * 1000000 // t.actual_chars
        |         AS BIGINT) AS err_ppm
        |FROM e CROSS JOIN t""".stripMargin,
    "q_pps_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
        |           AS w,
        |         md5(CAST(doc_id AS VARCHAR)) AS rnd
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, w,
        |         CAST(COALESCE(SUM(w) OVER (ORDER BY rnd, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before,
        |         CAST(SUM(w) OVER () AS BIGINT) // 100 AS s
        |  FROM d)
        |SELECT doc_id, w AS n_tokens,
        |       least(greatest((cum_before + w - (s // 2) + s - 1) // s, 0), 100)
        |         - least(greatest((cum_before - (s // 2) + s - 1) // s, 0), 100)
        |         AS n_picks
        |FROM c
        |WHERE least(greatest((cum_before + w - (s // 2) + s - 1) // s, 0), 100)
        |    - least(greatest((cum_before - (s // 2) + s - 1) // s, 0), 100) >= 1""".stripMargin,
    "q_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n_docs,
        |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
        |              AS BIGINT) AS weight_micro
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS total_micro FROM c)
        |SELECT lang, n_docs, weight_micro,
        |       CAST(weight_micro AS DOUBLE) / total_micro AS sample_share
        |FROM c CROSS JOIN t""".stripMargin,
    "q_stratified_sample" -> sampleSql,
    "q_reservoir_sample" ->
      """WITH tagged AS (
        |  SELECT lang, doc_id, n_chars,
        |         md5(CAST(doc_id AS VARCHAR)) AS tag
        |  FROM documents)
        |SELECT lang, CAST(pick AS INT) AS pick, doc_id, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY tag, doc_id) AS pick FROM tagged)
        |WHERE pick <= 10""".stripMargin,
    "q_sample_mixture" ->
      s"""WITH total AS (
         |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
         |sampled AS (
         |  SELECT lang, count(*) AS n_sampled FROM ($sampleSql) s GROUP BY lang)
         |SELECT t.lang, t.n_total,
         |       coalesce(s.n_sampled, 0) AS n_sampled,
         |       CAST(coalesce(s.n_sampled, 0) AS DOUBLE) / t.n_total AS sample_rate
         |FROM total t LEFT JOIN sampled s ON t.lang = s.lang""".stripMargin)
}
