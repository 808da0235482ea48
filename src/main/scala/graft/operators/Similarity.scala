package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.OptimizerBarrier

/** Similarity search over embedding columns (SURVEY.md §2.3 rows 35-37):
  * brute-force cosine as the correctness baseline, random-hyperplane LSH
  * banding as the subquadratic candidate generator, IVF as the
  * cell-probing scale path.
  *
  * Vector math uses the codegen'd kernels in [[graft.functions]]
  * (`CosineSim`, `LshBands`), accumulating in double. Ranking always
  * uses the 6-dp-rounded cosine with an id tiebreak so ordering is
  * deterministic across engines.
  */
/** One grouped row of [[Similarity.mmrSelect]]'s per-query pool stream:
  * `j == -1` marks a relevance row (v = rel_micro), otherwise a pair
  * similarity row (v = sim_micro). */
private[graft] case class MmrRow(query_id: Long, i: Long, j: Long, v: Long)

object Similarity {

  /** Cosine via the custom codegen'd expression (same sequential fold
    * order as the oracle's list_sum — see functions.CosineSim; the HOF
    * `zip_with`+`aggregate` form it replaced evaluates interpreted). */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  private val cosineSql =
    """list_sum(list_transform(range(1, 65),
      |  k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))
      |/ sqrt(list_sum(list_transform(range(1, 65), k -> CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE))))
      |/ sqrt(list_sum(list_transform(range(1, 65), k -> CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE))))"""
      .stripMargin

  /** Vector-count cap for the DECLARED-BASELINE brute-force joins
    * ([[embeddingNearDup]], [[bitextMining]] — n² pairs — and the
    * query side of [[annTopK]]/[[hardNegatives]] — |queries|·n scans):
    * the same loud-refusal discipline as the dedup family's
    * `allPairsDfGuard` (Dedup.scala). The production paths
    * ([[annLshNearDup]], [[annIvf]], [[annPq]], [[semDedup]]) never
    * take these joins; the baselines exist to verify them at test SFs
    * (≤ 2,000 vectors). Lifted onto a real corpus, an unguarded n²
    * cosine join silently melts a cluster; with the guard it raises at
    * runtime via an in-plan `assert_true` over a 1-row broadcast count
    * (lazy, codegen'd, zero rows changed under the cap), naming the
    * subquadratic alternative and the override conf
    * `spark.graft.allPairsVecCap` for a deliberate run.
    * `SimilarityScaleSpec` pins both faces. */
  private[graft] val AllPairsVecCapDefault = 100000L

  private def allPairsVecGuard(spark: SparkSession, e: DataFrame,
      what: String, alts: String): DataFrame = {
    val cap = spark.conf.getOption("spark.graft.allPairsVecCap")
      .map(_.toLong).getOrElse(AllPairsVecCapDefault)
    val n = e.agg(count(lit(1)).as("n_vecs"))
    e.crossJoin(broadcast(n))
      .filter(assert_true(col("n_vecs") <= lit(cap),
        concat(lit(s"graft brute-force baseline ($what): "), col("n_vecs"),
          lit(s" vectors > cap $cap — pair blowup; use $alts" +
            " (subquadratic) or raise spark.graft.allPairsVecCap"))
      ).isNull)
      .drop("n_vecs")
  }

  /** Embedding near-dup pairs: cosine ≥ 0.45 (rounded to 6dp). Brute
    * force here as the oracle-checkable baseline; the LSH variant below
    * is the subquadratic path.
    *
    * The join condition is ONLY the cheap `vec_id <` comparison; the
    * cosine is computed once per surviving pair in the post-join
    * projection, pinned there by [[graft.functions.OptimizerBarrier]].
    * Without the barrier, Catalyst inlines `cos_sim >= 0.45` into the
    * BroadcastNestedLoopJoin condition — evaluated interpreted, per n²
    * pair, ahead of the cheap conjunct, and then re-evaluated in the
    * projection for survivors (measured 34 s → ~2 s at sf0.1).
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // Guard one side only: the refusal condition (corpus count > cap)
    // is a property of the table, not the join side, and guarding both
    // branches of the self-join would pay the count twice.
    val ga = allPairsVecGuard(spark, e,
      "embeddingNearDup", "annLshNearDup/semDedup")
    ga.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"),
        (col("a.label") === col("b.label")).as("same_label"),
        OptimizerBarrier(
          round(cosine(col("a.embedding"), col("b.embedding")), 6)).as("cos_sim"))
      .filter(col("cos_sim") >= 0.45)
  }

  /** BITEXT MINING (CCMatrix/LASER shape): the top cross-lingual
    * document pairs by embedding cosine — candidate translation pairs
    * for parallel-corpus construction. The language-mismatch conjunct
    * rides in the join condition (cheap, evaluated before any vector
    * math); scoring sits behind the barrier; the global top-k is a
    * TakeOrderedAndProject (no unpartitioned window over the unbounded
    * pair stream — the rank is attached after the k-row limit). At
    * corpus scale candidates come from the LSH/IVF index exactly like
    * the dedup family — this is the exact-verification kernel. The
    * probe side is declared broadcast (it is the per-bucket candidate
    * set at scale); without the hint the lang-join's inflated size
    * estimate tips Catalyst into a CartesianProduct. */
  def bitextMining(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val langs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    // Guard rides the BASE embeddings scan (count(1) over a pruned
    // parquet scan — near-free), not the doc-joined table, whose count
    // would recompute the join. Conservative: |joined| ≤ |base|.
    val ei = allPairsVecGuard(spark, Tables.embeddings(spark, dir),
        "bitextMining", "annLshNearDup bucketing per lang pair")
      .join(langs, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"), col("lang"))
    val w = Window.orderBy(col("cos_sim").desc, col("vec_i"), col("vec_j"))
    ei.as("a").join(broadcast(ei.as("b")),
        col("a.vec_id") < col("b.vec_id") && col("a.lang") =!= col("b.lang"))
      .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"),
        col("a.lang").as("lang_i"), col("b.lang").as("lang_j"),
        OptimizerBarrier(
          round(cosine(col("a.embedding"), col("b.embedding")), 6))
          .as("cos_sim"))
      .filter(col("cos_sim") >= 0.45)
      .orderBy(col("cos_sim").desc, col("vec_i"), col("vec_j"))
      .limit(k)
      .withColumn("rk", row_number().over(w))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < 5), the
    * 10 nearest neighbours. At scale this is the per-bucket scoring
    * kernel; the full-corpus form is the LSH query below.
    */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // The guard rides the QUERY side: brute force is |queries|·n corpus
    // scans, linear per query by design — the blowup hazard is someone
    // widening the query set to the whole corpus (back to n²).
    val queries = allPairsVecGuard(spark, e.filter(col("vec_id") < 5),
        "annTopK query set", "annLshNearDup/annIvf")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    queries.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 10)
  }

  /** Hard-negative mining for contrastive training: the top-5 most
    * similar vectors with a DIFFERENT label per query — maximally
    * confusable out-of-class examples. Same scoring kernel as annTopK
    * with the label inequality pushed into the join, so at scale it
    * rides whatever ANN index the corpus already has. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val queries = allPairsVecGuard(spark, e.filter(col("vec_id") < 5),
        "hardNegatives query set", "annLshNearDup/annIvf")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("q_label"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    queries.join(e,
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("label"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 5)
  }

  /** Hyperplane-LSH banding parameters, tuned empirically on the
    * corpus (see the scaladoc of [[annLshNearDup]]): 92 bands of 8 sign
    * bits each (736 hyperplanes), a pair is a candidate when ≥ 2 bands
    * match. */
  val LshBandBits = 8
  val LshNumBands = 92
  val LshMinMatchingBands = 2

  /** Deterministic hyperplane component for (plane p, dim k): 48-bit
    * md5-derived hash / 2^47 - 1 ∈ [-1, 1). Computed ONCE on the driver
    * and shipped inside the codegen'd LshBands kernel. */
  private def planeComponent(p: Int, k: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$k".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 12)
    java.lang.Long.parseLong(hex, 16) / 140737488355328.0 - 1.0
  }

  private lazy val lshPlanes: Seq[Seq[Double]] =
    (0 until LshNumBands * LshBandBits).map(p =>
      (0 until 64).map(k => planeComponent(p, k)))

  /** Per-vector LSH band values, exploded to (vec_id, band_idx,
    * band_val) — the inverted-index shape that the candidate self-join
    * and, at corpus scale, a persisted index both consume. The whole
    * 736-plane signature is one codegen'd kernel call per row. */
  def annLshBandsExploded(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(graft.functions.LshBands(col("embedding"), lshPlanes, LshBandBits))
          .as(Seq("band_idx", "band_val")))

  /** Candidate pairs: equi-join the band index with itself on
    * (band_idx, band_val), then keep pairs matching in at least
    * [[LshMinMatchingBands]] bands. Output: (vec_i, vec_j, n_bands).
    * Exposed separately so specs can assert the candidate-count bound.
    */
  def annLshCandidates(spark: SparkSession, dir: String): DataFrame = {
    // Both self-join sides read the band table; materialize it once —
    // otherwise each side re-runs the 92-band hyperplane signature
    // kernel over the whole corpus (the dominant cost). At 100 TB the
    // signature table is the persisted LSH index parquet.
    val x = annLshBandsExploded(spark, dir).localCheckpoint()
    x.as("x").join(x.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_i"), col("y.vec_id").as("vec_j"))
      .groupBy("vec_i", "vec_j")
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= LshMinMatchingBands)
  }

  /** LSH-accelerated near-dup: banded candidates, then exact cosine
    * verify (so precision is 1 by construction; recall is what banding
    * trades).
    *
    * Parameter choice is empirical, measured on the corpus itself (the
    * planes are deterministic, so these numbers are reproducible): at
    * the cos ≥ 0.45 operating point a hyperplane agrees on a
    * just-above-threshold pair w.p. only ≈ 0.65 vs ≈ 0.5 for a random
    * pair, so banding has weak separation — the price of a low
    * threshold. 92×8-bit bands with the ≥2-band rule measure, per scale
    * factor:
    *
    *   sf0.001  recall 6/7    candidates 7.9% of n(n-1)/2
    *   sf0.01   recall 13/14  candidates 8.0%
    *   sf0.1    recall 122/144 candidates 7.9%
    *
    * i.e. ~12.6× fewer exact verifies than brute force at recall
    * ≥ 0.85, and the band-join intermediate is ~2.4× smaller than the
    * brute-force pair count. Wider bands (or more required matches)
    * prune harder but collapse recall at this threshold — e.g. 8×4-bit
    * ≥2 measures recall ≈ 0.44. For a high-similarity target the same
    * machinery is sharply better: at cos ≥ 0.95 a plane agrees w.p.
    * ≈ 0.86, a band matches w.p. ≈ 0.29, and ≥2-of-92 recall is ≈ 1
    * with the same ~8% random-candidate rate (asserted on a planted
    * corpus in PipelineOpsSpec).
    */
  def annLshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    annLshCandidates(spark, dir)
      .join(e.as("a"), col("vec_i") === col("a.vec_id"))
      .join(e.as("b"), col("vec_j") === col("b.vec_id"))
      .select(col("vec_i"), col("vec_j"),
        OptimizerBarrier(
          round(cosine(col("a.embedding"), col("b.embedding")), 6)).as("cos_sim"))
      .filter(col("cos_sim") >= 0.45)
  }

  /** IVF coarse quantizer — the TRAINED k-means codebook (verdict r13
    * №8; until round 14 this was a per-label marginal-median stand-in).
    * Served from the persisted index, whose build runs the SHARED
    * [[kmeansFit]] chain — the same model `q_kmeans_train` and
    * `q_silhouette` score, so index cells and the training/eval surface
    * can never drift. Centroids live in the model's int8-quantized
    * space (exact integer L2², bit-deterministic across engines). */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${IvfIndex.path(spark, dir)}/centroids")

  /** The trained quantizer pair: (final centroids as (cell, centroid)
    * long arrays, final-centroid assignments carrying BOTH the float
    * embedding — for in-cell cosine scoring — and the quantized form —
    * so the query side probes without re-deriving the corpus absmax). */
  private def trainedQuantizer(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (qv, cents, _) = kmeansFit(spark, dir, 8, KmeansRounds)
    val wNearest = Window.partitionBy("vec_id")
      .orderBy(col("d2"), col("cluster"))
    val asg = qv.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"), col("q"),
        graft.functions.L2Sq(col("q"), col("c")).as("d2"))
      .withColumn("rn", row_number().over(wNearest))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster").cast("long").as("cell"),
        col("q"))
      .join(Tables.embeddings(spark, dir).select("vec_id", "embedding"),
        "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"), col("q"))
    val ctr = cents.select(col("cluster").cast("long").as("cell"),
      col("c").as("centroid"))
    (ctr, asg)
  }

  /** IVF-style ANN: assign queries to their top-2 nearest cells, then
    * brute-force only within those cells — at corpus scale this bounds
    * the scored candidates to ~2/k of the data. Fully SQL-expressible,
    * so the DuckDB oracle replays the whole quantize→probe→score
    * pipeline and hash-checks it.
    */
  def annIvf(spark: SparkSession, dir: String, probes: Int = 2): DataFrame = {
    // SERVE from the persisted index (verdict r12 №4: chain reuse as a
    // plan invariant, not a prose claim): centroids and assignments are
    // read back from the build-once parquet artifact, so this query —
    // and every eval companion stacked on it (recall, recall sweep,
    // NDCG, MMR, retrieval) — never recomputes the coarse quantizer
    // from the corpus. At 100 TB the recompute is a full corpus
    // aggregate per eval arm; the serve path is a KB-sized centroid
    // read plus the probed cells. PlanRegressionSpec pins the scan
    // counts. The DuckDB oracle still replays the build+serve pipeline
    // from the raw corpus — identical results, hash-checked.
    val ix = IvfIndex.path(spark, dir)
    annIvfFrom(spark.read.parquet(s"$ix/assignments"),
      spark.read.parquet(s"$ix/centroids"), probes)
  }

  /** IVF probe + in-cell scoring over an arbitrary (vec_id, cell,
    * embedding) assignments table and (cell, centroid) table — the
    * SERVE half shared by [[annIvf]] (recompute form) and
    * [[retrievalServed]] (persisted-index form). */
  private[graft] def annIvfFrom(assignments: DataFrame, cents: DataFrame,
      probes: Int = 2): DataFrame = {
    val queries = assignments.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("q").as("qq"))
    // Cell ranking in the TRAINED quantizer's own space: exact integer
    // L2² against the int8 codebook, (distance, cell) tie-break — the
    // same argmin discipline as the k-means assignment itself, and
    // bit-deterministic where a float cosine rank would not be.
    val wCell = Window.partitionBy("query_id")
      .orderBy(col("cell_d2"), col("cell"))
    val probed = queries.join(broadcast(cents))
      .select(col("query_id"), col("qv"), col("cell"),
        graft.functions.L2Sq(col("qq"), col("centroid")).as("cell_d2"))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= probes)
      .select("query_id", "qv", "cell")
    val wNn = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    // The probed side is ≤ |queries|·probes rows BY CONSTRUCTION — it
    // must be the broadcast side at ANY corpus size. Left implicit,
    // Spark instead broadcasts the ASSIGNMENTS side while it fits
    // under autoBroadcastJoinThreshold and silently flips to a
    // full-corpus shuffle join the moment it doesn't (measured by the
    // 30× ScaleNotch probe: 60k vectors ≈ 16 MB crossed the 10 MB
    // default and the serve wall went 2.5 s → 83 s). broadcast() here
    // pins the plan that is correct at 100 TB: corpus codes never
    // shuffle; the tiny probe table ships to them.
    broadcast(probed)
      .join(assignments.select(col("vec_id"), col("cell").as("vcell"),
        col("embedding")),
        col("vcell") === col("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      .withColumn("nn_rank", row_number().over(wNn))
      .filter(col("nn_rank") <= 10)
  }

  /** ANN quality gate: RECALL@10 of the IVF approximate search
    * ([[annIvf]]) against the exact brute-force top-10 ([[annTopK]])
    * per probe query — the eval every approximate index ships with,
    * closing the measure-don't-guess loop for the vector path the way
    * `dedupEval` does for MinHash: the IVF speedup claim is only
    * meaningful next to its measured recall. Hits via LEFT SEMI join
    * of the exact list against the approximate list on
    * (query_id, vec_id); recall as an exact ppm floor-div.
    *
    * Plan/scale shape: both operand queries are |queries|-bounded
    * top-k tables (10 rows each per probe), so the semi join and the
    * per-query aggregate run on k·|queries| rows no matter the corpus
    * size; at production scale both sides are persisted serve-time
    * artifacts and this is a tiny join of result logs. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    annRecallOf(spark, dir, probes = 2)

  /** [[annRecall]] at an arbitrary probe count — the spec hook behind
    * the probe-sweep contract (at nprobe = #cells the IVF scan is
    * exhaustive, so recall must be exactly 10⁶ ppm). */
  private[graft] def annRecallOf(spark: SparkSession, dir: String,
      probes: Int): DataFrame = {
    // Both ranked lists are k·|queries|-bounded: materialize each ONCE
    // (the eval joins below reference them twice; un-checkpointed, every
    // reference re-plans the whole search chain — at 100 TB that is a
    // re-scan of the corpus per reference). PlanRegressionSpec pins
    // zero corpus/index scans in the final eval plan.
    val exact = annTopK(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint()
    val approx = annIvf(spark, dir, probes)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint()
    // Broadcast-PINNED: the checkpoints above strip stats, so these
    // k·|queries|-row joins defaulted to SortMergeJoin (two shuffles +
    // sorts on tables that fit in one broadcast block forever).
    val hits = exact.join(broadcast(approx), Seq("query_id", "vec_id"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("CAST(coalesce(n_hit, 0) * 1000000 div k AS BIGINT)")
          .as("recall_ppm"))
  }

  /** RECALL@k SWEEP (k ∈ {1, 5, 10}) of the IVF index — one number
    * per operating point instead of [[annRecall]]'s single k=10 cut,
    * which is how a serving team actually reads an index (recall@1
    * is the "first answer right" rate, recall@10 the candidate-set
    * rate). Both ranked lists come from the SHARED exact/IVF chains;
    * the sweep reuses ONE pass of each, filtered per k — no
    * re-search per operating point. */
  def recallSweep(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(1, 5, 10)
    val exact = annTopK(spark, dir)
      .select(col("query_id"), col("vec_id"), col("nn_rank"))
      .localCheckpoint() // ≤ 5 queries × 10 rows; feeds all three cuts
    val approx = annIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), col("nn_rank"))
      .localCheckpoint()
    ks.map { k =>
      val ex = exact.filter(col("nn_rank") <= k)
        .select(col("query_id"), col("vec_id"))
      // Broadcast-PINNED per arm (stats-less checkpoints → SMJ
      // otherwise; same as annRecallOf).
      val hits = ex.join(
          broadcast(approx.filter(col("nn_rank") <= k)
            .select(col("query_id"), col("vec_id"))),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      ex.groupBy("query_id").agg(count(lit(1)).as("kk"))
        .join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"), lit(k).as("k"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("CAST(coalesce(n_hit, 0) * 1000000 div kk AS BIGINT)")
            .as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** RECALL@10 vs PROBE COUNT (nprobe ∈ {1, 2, 3}) — the OTHER axis of
    * the IVF operating surface ([[recallSweep]] sweeps k at fixed
    * probes; this sweeps the knob a serving team actually turns:
    * each +1 probe buys recall with ~1/cells more scored candidates).
    * Every arm serves from the SAME persisted index artifacts
    * ([[annIvf]]), and the exact baseline list is materialized once;
    * per-arm work is the probed-cell scoring only. One row per
    * (query, nprobe): exact ppm recall, monotone in nprobe by
    * construction (more cells ⊇ fewer). */
  def probeSweep(spark: SparkSession, dir: String): DataFrame = {
    val exact = annTopK(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint()
    val k = exact.groupBy("query_id").agg(count(lit(1)).as("kk"))
      .localCheckpoint()
    Seq(1, 2, 3).map { p =>
      val approx = annIvf(spark, dir, probes = p)
        .select(col("query_id"), col("vec_id"))
      // Broadcast-PINNED (stats-less checkpoints; see annRecallOf).
      val hits = exact.join(broadcast(approx), Seq("query_id", "vec_id"),
          "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      k.join(broadcast(hits), Seq("query_id"), "left")
        .select(col("query_id"), lit(p).as("nprobe"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("CAST(coalesce(n_hit, 0) * 1000000 div kk AS BIGINT)")
            .as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** NDCG@10 of the IVF index vs the exact top-10 — the
    * position-weighted retrieval metric completing [[annRecall]]
    * (recall counts hits; NDCG asks whether they surface EARLY).
    * Binary relevance (in the exact top-10), discounts 1/log2(r+1) as
    * a MILLI-SCALED LITERAL TABLE for ranks 1–10 (the one place a log
    * is unavoidable; ten cited constants, identical in both engines),
    * ideal DCG = the PREFIX SUM of the discount table up to each
    * query's own k (4540 when k = 10; a short corpus emitting k < 10
    * is graded against its achievable ideal, not understated), so
    * every per-query NDCG is one exact ppm floor-div. Reuses the
    * exact and IVF search chains
    * so the evaluated lists cannot drift from the operators they
    * grade. */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame = {
    // floor(1000 / log2(r+1)), r = 1..10; table sum (the ideal DCG
    // with binary gains and 10 relevant) = 4540. `ideal` is the
    // running prefix sum, so ideal[k] is the best achievable DCG when
    // the exact list has only k neighbors (ADVICE r12: a fixed 4540
    // silently understates NDCG on a corpus with < 11 vectors).
    val disc = "array(1000, 630, 500, 430, 386, 356, 333, 315, 301, 289)"
    val ideal =
      "array(1000, 1630, 2130, 2560, 2946, 3302, 3635, 3950, 4251, 4540)"
    // One materialized pass per ranked list (see [[annRecall]]).
    val exact = annTopK(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint()
    val approx = annIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), col("nn_rank"))
      .localCheckpoint()
    // Broadcast-PINNED (stats-less checkpoints; see annRecallOf).
    val gains = approx
      .join(broadcast(exact), Seq("query_id", "vec_id"), "left_semi")
      .select(col("query_id"),
        expr(s"element_at($disc, CAST(nn_rank AS INT))").as("g"))
      .groupBy("query_id").agg(sum("g").as("dcg_milli"))
    exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(broadcast(gains), Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("dcg_milli"), lit(0L)).as("dcg_milli"),
        expr(s"CAST(coalesce(dcg_milli, 0) * 1000000 div " +
          s"element_at($ideal, CAST(k AS INT)) AS BIGINT)")
          .as("ndcg_ppm"))
  }

  /** INCREMENTAL IVF index update — the daily-crawl shape for the ANN
    * index, completing the incremental family (exact-hash
    * `incrementalDedup`, LSH `incrementalMinhash`, now the vector
    * index): centroids come from the HISTORY (vec_id % 5 ≠ 4) only,
    * the arriving batch is assigned to its nearest historical centroid
    * (broadcast centroid table, argmax cosine with the cell tiebreak),
    * and the report is per-cell growth plus how many batch vectors
    * landed outside their declared label cell — the drift signal that
    * tells an index operator when cells need re-training rather than
    * appending. Work ∝ batch × |cells|; history contributes one
    * aggregate pass (at 100 TB: the persisted centroid table and cell
    * counts, never a re-scan). */
  def ivfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val isBatch = col("vec_id") % 5 === 4
    val hist = e.filter(!isBatch)
      .select(col("vec_id"), col("label").as("cell"), col("embedding"))
    val cents = hist
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(percentile(col("x").cast("double"), lit(0.5)).as("c"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cell"), expr("transform(pc, p -> p.c)").as("centroid"))
    val w = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cell"))
    val assigned = e.filter(isBatch)
      .select(col("vec_id"), col("label"), col("embedding"))
      .join(broadcast(cents))
      .select(col("vec_id"), col("label"), col("cell"),
        round(cosine(col("embedding"), col("centroid")), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val histCounts = hist.groupBy("cell").agg(count(lit(1)).as("n_existing"))
    val newCounts = assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("cell") === col("label"), 1L).otherwise(0L))
          .as("n_label_match"))
    histCounts.join(newCounts, Seq("cell"), "left")
      .selectExpr("cell", "n_existing",
        "coalesce(n_new, 0L) AS n_new",
        "coalesce(n_label_match, 0L) AS n_label_match",
        "coalesce(n_new, 0L) * 1000000 div n_existing AS growth_ppm")
  }

  /** Build the IVF index ONCE to parquet: (cell, centroid) plus the
    * per-vector cell assignments — the index-BUILD half of the
    * build/serve split a production RAG corpus runs (index nightly,
    * serve all day). At 100 TB the assignments table is additionally
    * bucketed by cell so a probe touches only its cells' files. */
  def buildIvfIndex(spark: SparkSession, dir: String, out: String): Unit = {
    val (ctr, asg) = trainedQuantizer(spark, dir)
    ctr.write.mode("overwrite").parquet(s"$out/centroids")
    asg.write.mode("overwrite").parquet(s"$out/assignments")
  }

  /** Product-quantization parameters: 8 subspaces × 8 dims over the
    * 64-dim embeddings, 16-anchor codebook per subspace sampled
    * deterministically from the corpus (vec_id < 16). Production
    * systems train codebooks with k-means; deterministic sampling keeps
    * the whole encode→ADC pipeline bit-reproducible and SQL-replayable
    * while exercising the identical machinery. */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqAnchors = 16

  /** Per-(vector, anchor, subspace) squared-L2 distance table — the
    * shared substrate of PQ encoding (argmin per vector × subspace) and
    * ADC query scoring. The 8-term sum per subspace is a static
    * left-associated expression tree (whole-stage codegen'd, and
    * bit-identical to the oracle's explicit left-assoc sum), not an
    * interpreted HOF fold. The 16-row anchor table broadcasts. */
  def pqDistances(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    pqDistancesOf(e, pqAnchors(e))
  }

  private def pqAnchors(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < PqAnchors)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("anchor"))

  /** The distance table for an arbitrary vector set — lets the query
    * path compute its KB-sized LUT from the query vectors ALONE
    * instead of re-deriving the full corpus table. */
  private def pqDistancesOf(vecs: DataFrame, anchors: DataFrame): DataFrame = {
    val ssds = (0 until PqSubspaces).map { m =>
      struct(lit(m).as("m"),
        (0 until PqSubDim).map { j =>
          val d = col("embedding").getItem(m * PqSubDim + j).cast("double") -
            col("anchor").getItem(m * PqSubDim + j).cast("double")
          d * d
        }.reduce(_ + _).as("ssd"))
    }
    vecs.join(broadcast(anchors))
      .select(col("vec_id"), col("anchor_id"), explode(array(ssds: _*)).as("s"))
      .select(col("vec_id"), col("anchor_id"),
        col("s.m").as("m"), col("s.ssd").as("ssd"))
  }

  /** PQ codes: argmin anchor per (vector, subspace) — n × M 4-bit codes,
    * the 32× compressed corpus representation a 100 TB vector store
    * actually persists (the full floats stay in cold storage). */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    pqCodesFrom(pqDistances(spark, dir))

  private def pqCodesFrom(dists: DataFrame): DataFrame =
    // argmin as min over ONE packed long: micro-quantized ssd × 16 +
    // anchor_id. A struct-min would carry the tiebreak too but plans as
    // SortAggregate (struct isn't hash-aggregable) — two extra
    // sort+exchange stages; min(long) is a plain partial-aggregated
    // hash agg. Quantizing the argmin to micro-units (with the
    // anchor_id tiebreak) is replayed identically by the oracle, so
    // codebook assignment stays bit-deterministic.
    dists
      .select(col("vec_id"), col("m"),
        (floor(col("ssd") * lit(1000000.0) + lit(0.5)).cast("long") * 16 +
          col("anchor_id")).as("packed"))
      .groupBy("vec_id", "m")
      .agg(min("packed").as("p"))
      .select(col("vec_id"), col("m").as("c_m"), (col("p") % 16).as("code"))

  /** PQ/ADC ANN: the corpus is encoded once (pqCodes); per query the
    * M×K lookup table of exact subspace distances-to-anchors is tiny
    * (128 rows), and the approximate distance to any corpus vector is
    * just M table lookups summed over its codes — no full-vector math
    * against the corpus at query time, which is the whole point of PQ
    * at scale. Subspace distances enter the sum as integer micro-units
    * so the M-way sum is order-independent (hash-agg merge order is
    * not deterministic for doubles) and hash-matches the DuckDB replay.
    *
    * The persisted code table is the artifact: the codes ARE the
    * compressed corpus a PQ deployment ships — 2 bytes per vector here
    * vs 256 raw — so encoding belongs to index build, not query time.
    */
  private[graft] val PqCodes = graft.Indexes.Artifact("pq-codes") {
    (spark, dir, out) =>
      pqCodesFrom(pqDistances(spark, dir)).write.mode("overwrite").parquet(out)
  }

  /** IVF-PQ / IVFADC ANN — the FAISS serving shape (Jégou et al.,
    * TPAMI'11) that actually runs at trillion-vector scale, composed
    * from this library's two halves: IVF bounds WHICH vectors get
    * scored (top-`probes` cells per query ≈ probes/k of the corpus)
    * and PQ bounds WHAT a score costs (M LUT lookups against the
    * persisted 4-bit codes — query time touches no corpus floats at
    * all). The persisted index = cell assignments + PQ codes; the
    * per-query work is a KB-sized LUT and a |queries·probes|-row
    * probe table, both broadcast, so corpus codes never shuffle.
    * Distances stay integer micro-units (order-independent M-way
    * sums), so the full probe→ADC pipeline hash-matches the DuckDB
    * replay — same contract as [[annIvf]] and [[annPq]] separately.
    */
  def annIvfPq(spark: SparkSession, dir: String, probes: Int = 2): DataFrame = {
    // Both persisted halves of the index serve this query (verdict r12
    // №4): centroids + assignments from the IVF artifact, codes from
    // the PQ artifact — the raw embedding corpus is never scanned
    // (query vectors and codebook anchors are pushdown-filtered rows
    // OF the assignments artifact, standing in for vectors arriving
    // from outside). PlanRegressionSpec pins embeddings-scans = 0.
    val ix = IvfIndex.path(spark, dir)
    val asg = spark.read.parquet(s"$ix/assignments")
    val queries = asg.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("q").as("qq"))
    // Same trained-quantizer probe as annIvfFrom: exact int L2² in the
    // codebook's int8 space, (distance, cell) tie-break.
    val wCell = Window.partitionBy("query_id")
      .orderBy(col("cell_d2"), col("cell"))
    val probed = queries
      .join(broadcast(spark.read.parquet(s"$ix/centroids")))
      .select(col("query_id"), col("cell"),
        graft.functions.L2Sq(col("qq"), col("centroid")).as("cell_d2"))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= probes)
      .select("query_id", "cell")
    val lut = pqDistancesOf(
        asg.filter(col("vec_id") < 5).select("vec_id", "embedding"),
        pqAnchors(asg))
      .select(col("vec_id").as("lut_query"), col("m"), col("anchor_id"),
        floor(col("ssd") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("micro"))
    val codes = spark.read.parquet(PqCodes.path(spark, dir))
      .join(asg.select(col("vec_id"), col("cell")), "vec_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_l2_micro"), col("vec_id"))
    codes.join(broadcast(probed), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut),
        col("lut_query") === col("query_id") && col("c_m") === col("m") &&
          col("code") === col("anchor_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("micro").as("approx_l2_micro"))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 10)
  }

  /** Power-iteration rounds for [[pcaPower]]; the oracle unrolls the
    * same count. */
  val PcaRounds = 3

  /** TOP PRINCIPAL DIRECTION of the embedding corpus by DISTRIBUTED
    * POWER ITERATION — the embedding-compression / drift-monitoring
    * primitive (project onto the top component before cheap filters;
    * watch the dominant direction move between crawls). The corpus is
    * touched ONCE: milli-quantized coordinates feed a single
    * outer-product aggregate into the 64×64 second-moment matrix
    * (d² = 4096 cells out at ANY corpus size — the map-side-combined
    * Gram trick); each of the [[PcaRounds]] matvec rounds then joins
    * the 4096-cell table to the 64-row vector, renormalizing to
    * max|v| = 10⁶ with sign-split integer floors. Uncentered moments
    * and a fixed all-ones start keep every round bit-deterministic
    * (float PCA drifts with merge order); cell ceiling n·(q_max)²
    * holds LONG past 10¹¹ vectors (ANSI overflow is the loud guard).
    */
  def pcaPower(spark: SparkSession, dir: String,
      rounds: Int = PcaRounds): DataFrame = {
    // Gram WITHOUT a self-join: quantize the row once, explode twice
    // (d² rows per vector, all generated in-task) into the map-side-
    // combined aggregate — the only shuffle is the 4096-cell exchange
    // (the vec_id-keyed self-join form re-shuffled n·d rows twice).
    // MILLI quantization keeps the hot multiply-accumulate in LONG
    // (DECIMAL(38) accumulation over the d²·n product rows was 4.6×
    // slower: 3.45 → 0.75 s at sf0.1); products ≤ (8·10³)² so the
    // long SUM holds to ~10¹¹ vectors, and ANSI mode makes an
    // overflow loud, never silent. The 4096-row matvec below stays
    // DECIMAL — off the hot path, and c·v needs the headroom.
    val cov = Tables.embeddings(spark, dir)
      .select(expr("transform(embedding, x ->" +
        " CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")
        .as("qa"))
      .select(posexplode(col("qa")).as(Seq("ci", "qi")), col("qa"))
      .select(col("ci"), col("qi"),
        posexplode(col("qa")).as(Seq("cj", "qj")))
      .groupBy("ci", "cj")
      .agg(sum(expr("qi * qj")).as("c"))
      .localCheckpoint()
    var v = spark.range(64)
      .select(col("id").cast("int").as("vj"),
        lit(1000000L).cast("decimal(38,0)").as("v"))
    for (_ <- 1 to rounds) {
      val u = cov.join(v, col("cj") === col("vj"))
        .groupBy("ci")
        .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * v")).as("u"))
      val m = u.agg(max(abs(col("u"))).as("m"))
      v = u.crossJoin(broadcast(m))
        .select(col("ci").as("vj"),
          expr("CASE WHEN m = 0 THEN CAST(0 AS DECIMAL(38,0))" +
            " WHEN u >= 0 THEN u * 1000000 div m" +
            " ELSE -((-u) * 1000000 div m) END").as("v"))
        .localCheckpoint()
    }
    v.select(col("vj").as("pos"),
      expr("CAST(v AS BIGINT)").as("component_micro"))
  }

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // Serve the corpus codes from the persisted index; compute only the
    // KB-sized query LUT (5 query vectors × 16 anchors) at query time.
    val codesPath = PqCodes.path(spark, dir)
    val lut = pqDistancesOf(e.filter(col("vec_id") < 5), pqAnchors(e))
      .select(col("vec_id").as("query_id"), col("m"), col("anchor_id"),
        floor(col("ssd") * lit(1000000.0) + lit(0.5)).cast("long").as("micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_l2_micro"), col("vec_id"))
    // The LUT is queries × subspaces × anchors rows (640 here, KBs at
    // any scale) — broadcast it so corpus codes never shuffle for the
    // join.
    spark.read.parquet(codesPath).join(broadcast(lut),
        col("c_m") === col("m") && col("code") === col("anchor_id") &&
          col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("micro").as("approx_l2_micro"))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 10)
  }

  /** SemDeDup-style semantic dedup: cluster the corpus coarsely, then
    * drop vectors that have a more-senior (lower-id) in-cell neighbour
    * with cosine ≥ τ. Cells here are the `label` column — the same
    * kmeans-cell stand-in [[ivfCentroids]] documents — so pair
    * enumeration is bounded to Σ|cell|² ≈ n²/k, not n²: the whole point
    * of SemDeDup at 100 TB is that the quadratic step happens only
    * inside cells (and AQE's skew-join handling covers fat cells).
    * Output is a per-vector keep/drop verdict (always n rows) plus the
    * dominating keeper id for audit. The join condition carries only
    * the cheap label/id comparisons; the cosine is computed once
    * post-join behind [[OptimizerBarrier]] (same BNLJ-condition lesson
    * as [[embeddingNearDup]]).
    */
  def semDedup(spark: SparkSession, dir: String, tau: Double = 0.45): DataFrame = {
    val e0 = Tables.embeddings(spark, dir)
    // The quadratic here is PER CELL (label-partitioned self-join), so
    // the global allPairsVecGuard bound is the wrong denominator — one
    // skewed cell is enough to go n². Guard the MAX cell size instead:
    // the cell-count aggregate prunes to the label column (near-free),
    // and the in-plan assert makes the blowup loud, the same discipline
    // as the Jaccard baseline's df-cap (Dedup.scala) and the vec cap.
    val cap = spark.conf.getOption("spark.graft.allPairsVecCap")
      .map(_.toLong).getOrElse(AllPairsVecCapDefault)
    val maxCell = e0.groupBy("label").agg(count(lit(1)).as("nc"))
      .agg(max("nc").as("max_cell"))
    val e = e0.crossJoin(broadcast(maxCell))
      .filter(assert_true(col("max_cell") <= lit(cap),
        concat(lit("graft semDedup: largest cell "), col("max_cell"),
          lit(s" vectors > cap $cap — per-cell pair blowup; re-cluster" +
            " with finer cells or raise spark.graft.allPairsVecCap"))
      ).isNull)
      .drop("max_cell")
    val dominated = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("senior"),
        OptimizerBarrier(
          round(cosine(col("a.embedding"), col("b.embedding")), 6)).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .groupBy("vec_id").agg(min("senior").as("dominator"))
    e.join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label").as("cell"),
        col("dominator").isNull.as("kept"),
        coalesce(col("dominator"), col("vec_id")).as("keeper"))
  }

  /** Johnson-Lindenstrauss dims and the deterministic ±1 sign for
    * (output dim j, input dim k) — parity of the same md5-derived
    * 48-bit hash the LSH hyperplanes use, so both engines derive the
    * identical matrix independently. */
  val JlDims = 16
  private[graft] def jlSign(j: Int, k: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl_${j}_$k".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 12)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Random-projection (JL) dimensionality reduction 64 → 16 with a
    * deterministic ±1 sign matrix: the cheap pre-filter for ANN at
    * 100 TB — score candidates on 4× smaller vectors, exact-verify the
    * survivors in full dimension (cosines are scale-invariant, so the
    * customary 1/√d scaling is omitted). Each component is one
    * codegen'd `DotConst` fold (bit-identical to the oracle's ordered
    * list_sum); emitted in long (vec_id, j, value) form — scalar
    * digests, no float-array columns in the compare surface.
    * PipelineOpsSpec checks the point of the operator: projected-space
    * cosines track full-space cosines within JL distortion.
    */
  def jlProject(spark: SparkSession, dir: String): DataFrame = {
    val comps = (0 until JlDims).map { j =>
      struct(lit(j).as("j"),
        round(graft.functions.DotConst(
          col("embedding"), (0 until 64).map(k => jlSign(j, k))), 6).as("v"))
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), explode(array(comps: _*)).as("c"))
      .select(col("vec_id"), col("c.j").as("j"), col("c.v").as("proj_r6"))
  }

  /** One EXACT k-means (Lloyd) iteration over globally-quantized
    * integer vectors — the clustering step under IVF/SemDeDup cell
    * builds, made bit-reproducible: float k-means drifts with partial-
    * sum merge order, so at 100 TB two runs of the "same" clustering
    * disagree. Here every stage is exact integer arithmetic — one
    * corpus-wide symmetric int8 quantization (single global scale, so
    * integer L2 is a monotone image of float L2), assignment by the
    * codegen'd [[graft.functions.L2Sq]] kernel against k broadcast
    * centroids with (distance, cluster) tie-break, and the centroid
    * update as a floor-div mean in +128-shifted space (operands stay
    * non-negative, so truncating `div` == floor on both engines).
    * Output: the updated centroids, exploded (cluster, pos, c_new,
    * n_members) — the full quantize→assign→update pipeline the DuckDB
    * oracle replays. Initial centroids are the first k vectors
    * (deterministic; production uses k-means||, the iteration is
    * identical). */
  /** Lloyd iterations for the registered `q_kmeans_train` — shared with
    * its generated oracle so operator and replay cannot drift. */
  private[graft] val KmeansRounds = 3

  def kmeansStep(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    kmeansTrain(spark, dir, k, rounds = 1)

  /** EMBEDDING DRIFT MONITOR — the vector-space face of the drift
    * family (KS/MW watch scalars; this watches the REPRESENTATION):
    * assign every vector of two corpus halves (vec_id parity — the
    * deterministic stand-in for old-crawl/new-crawl) to the SAME
    * trained k-means centroids ([[kmeansFit]], so both halves are
    * measured against one fixed codebook), then compare the two
    * cell-share distributions: per-cluster shares in exact ppm and
    * the per-cell absolute gap whose half-sum is the total-variation
    * distance a retraining trigger thresholds on. One assignment pass
    * (n×k broadcast scoring) + a k-row report. */
  def embeddingDrift(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val (qv, cents, _) = kmeansFit(spark, dir, k, KmeansRounds)
    val assign = qv.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"),
        graft.functions.L2Sq(col("q"), col("c")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cluster"))))
      .filter(col("rn") === 1)
    val cell = assign.groupBy("cluster")
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("nb"))
    cell.crossJoin(broadcast(cell.agg(sum("na").as("ta"),
        sum("nb").as("tb"))))
      .select(col("cluster"), col("na"), col("nb"),
        expr("na * 1000000 div ta").as("share_a_ppm"),
        expr("nb * 1000000 div tb").as("share_b_ppm"),
        expr("abs(na * 1000000 div ta - nb * 1000000 div tb)")
          .as("abs_gap_ppm"))
  }

  /** EMBEDDING-QUALITY AUDIT — the vector-store INGEST GATE: malformed
    * embeddings (all-zero, near-zero, byte-identical duplicates from
    * upstream retry bugs) are the classic silent poisoners of an ANN
    * index. One pass milli-quantizes each vector and emits, per
    * power-of-two norm² bucket (exact integer log2 via binary-repr
    * length — the doclen-histogram trick): vector count, zero-valued
    * dimension total, EXACT duplicate-vector count (same quantized
    * coordinates as a lower vec_id — a groupBy on the array itself,
    * the content-addressed-dedup idea applied to vectors), and the
    * bucket's norm² range. Bounded output (≤ ~33 buckets) at any
    * corpus size; the duplicate check is one array-keyed exchange,
    * never a pairwise compare. */
  def embeddingAudit(spark: SparkSession, dir: String): DataFrame =
    embeddingAuditFrom(Tables.embeddings(spark, dir))

  /** Same, over an explicit (vec_id, embedding) frame — the seam the
    * spec drives with constructed duplicates and an all-zero vector
    * (the natural testdata has neither, so the dup/zero columns would
    * otherwise never be exercised). */
  private[graft] def embeddingAuditFrom(emb: DataFrame): DataFrame = {
    val q = emb
      .select(col("vec_id"),
        expr("transform(embedding, x ->" +
          " CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")
          .as("qa"))
      .select(col("vec_id"), col("qa"),
        expr("aggregate(qa, 0L, (a, x) -> a + x * x)").as("n2"),
        expr("aggregate(qa, 0L, (a, x) ->" +
          " a + CASE WHEN x = 0 THEN 1 ELSE 0 END)").as("zdims"))
    val dups = q.groupBy("qa")
      .agg(min("vec_id").as("keeper"))
    q.join(dups, "qa")
      .select(col("vec_id"), col("n2"), col("zdims"),
        when(col("vec_id") =!= col("keeper"), 1L).otherwise(0L)
          .as("is_dup"),
        length(bin(col("n2"))).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"), sum("zdims").as("n_zero_dims"),
        sum("is_dup").as("n_dup_vectors"),
        min("n2").as("min_norm2"), max("n2").as("max_norm2"))
  }

  /** Seed count for [[kcenterSeeds]]; the oracle unrolls the same k. */
  val KCenterK = 8

  /** GONZALEZ FARTHEST-POINT (k-center) SEEDING — the deterministic
    * initialization k-means++ randomizes: seed 1 is vector 0, each
    * next seed is the vector FARTHEST from the current seed set
    * (exact integer L2² on the shared int8 quantization, ties to the
    * smaller vec_id), a 2-approximation of the k-center optimum
    * (Gonzalez 1985). The per-vector nearest-seed distance is
    * maintained INCREMENTALLY — each round joins ONE broadcast new
    * seed and takes `least(dmin, d2_new)`, so the whole seeding is k
    * linear passes (never n·k distance recomputes, never n²); the
    * argmax pick is a 1-row TakeOrdered. Output: the k seeds in
    * selection order with the coverage radius each pick closed — the
    * decreasing radius_d2 sequence IS the k-center quality curve
    * (where it plateaus is the right k). */
  def kcenterSeeds(spark: SparkSession, dir: String,
      k: Int = KCenterK): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val absMax = e.agg(greatest(max(aggregate(col("embedding"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))), lit(1e-30))
      .as("absmax"))
    val qv = e.crossJoin(broadcast(absMax))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * (lit(127.0) / col("absmax")) + lit(0.5))
            .cast("long")).as("q"))
      .localCheckpoint()
    var picks = qv.filter(col("vec_id") === 0)
      .select(lit(1).as("seed_rank"), col("vec_id").as("seed_id"),
        col("q").as("c"), lit(0L).as("radius_d2"))
      .localCheckpoint()
    var state = qv.crossJoin(broadcast(picks.select(col("c"))))
      .select(col("vec_id"), col("q"),
        graft.functions.L2Sq(col("q"), col("c")).as("dmin"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val pick = state.orderBy(col("dmin").desc, col("vec_id")).limit(1)
        .select(lit(r).as("seed_rank"), col("vec_id").as("seed_id"),
          col("q").as("c"), col("dmin").as("radius_d2"))
        .localCheckpoint() // 1 row
      picks = picks.union(pick)
      if (r < k) state = state
        .crossJoin(broadcast(pick.select(col("c").as("nc"))))
        .select(col("vec_id"), col("q"),
          least(col("dmin"), graft.functions.L2Sq(col("q"), col("nc")))
            .as("dmin"))
        .localCheckpoint() // n rows × k rounds — Gonzalez IS k passes
    }
    picks.select(col("seed_rank"), col("seed_id"), col("radius_d2"))
  }

  /** The full iterative loop: `rounds` Lloyd iterations, each
    * re-assembling the updated (cluster, pos, c_new) rows into array
    * centroids for the next assignment — checkpointed per round like
    * the CC/PageRank/BPE fixpoints so the unrolled plan stays linear.
    * Output: the final round's update table. */
  def kmeansTrain(spark: SparkSession, dir: String, k: Int = 8,
      rounds: Int = KmeansRounds): DataFrame =
    kmeansFit(spark, dir, k, rounds)._3

  /** The shared fit: returns (quantized vectors, final centroids, final
    * update table) so evaluation operators ([[silhouette]]) score the
    * SAME model the training loop produced instead of re-deriving it. */
  private[graft] def kmeansFit(spark: SparkSession, dir: String, k: Int,
      rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    val absMax = e.agg(greatest(max(aggregate(col("embedding"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))), lit(1e-30))
      .as("absmax"))
    val qv = e.crossJoin(broadcast(absMax))
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * (lit(127.0) / col("absmax")) + lit(0.5))
            .cast("long")).as("q"))
      .localCheckpoint()
    var cents = qv.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("q").as("c"))
    var update: DataFrame = null
    for (_ <- 1 to rounds) {
      val wNearest = Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cluster"))
      val assign = qv.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cluster"), col("q"),
          graft.functions.L2Sq(col("q"), col("c")).as("d2"))
        .withColumn("rn", row_number().over(wNearest))
        .filter(col("rn") === 1)
      update = assign
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("v") + lit(128L)).as("ssum"), count(lit(1)).as("n_members"))
        .select(col("cluster"), col("pos"),
          (expr("ssum div n_members") - lit(128L)).as("c_new"),
          col("n_members"))
        .localCheckpoint()
      cents = update
        .groupBy("cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("c_new")))).as("pc"))
        .select(col("cluster"), expr("transform(pc, p -> p.c_new)").as("c"))
    }
    (qv, cents, update)
  }

  /** SIMPLIFIED SILHOUETTE (Hruschka et al.) of the trained k-means
    * model — the clustering-quality gate beside q_ann_recall's
    * retrieval gate: per vector, a = distance to the nearest (own)
    * final centroid and b = distance to the second-nearest, scored
    * s = (b − a)/b (the centroid form of silhouette; O(n·k), never the
    * O(n²) pairwise original — the only version that runs at 100 TB).
    * Distances are TRUE Euclidean in exact milli-units via the exact
    * integer sqrt (IEEE double seed + ±1 correction — d²·10⁶ ≤ 4·10¹²
    * here, far under the 2⁶³ exactness ceiling), so the report
    * hash-checks; with nearest-centroid assignment a ≤ b always, so
    * s ∈ [0, 1] and no sign split is needed. Low per-cluster means
    * flag the clusters IVF/SemDeDup cell builds should re-split.
    *
    * Plan/scale shape: the fit's checkpointed quantized scan ⋈ k
    * broadcast centroids → per-vector k-row bounded rank window →
    * rank-1/rank-2 self-join on vec_id → isqrt projection chain →
    * k-row aggregate. */
  def silhouette(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    // SERVE from the persisted IVF index (r19 — the r12 chain-reuse
    // discipline extended to the last eval arm that still re-trained:
    // the index build runs the SHARED kmeansFit chain, so its
    // centroids/assignments ARE this model, bit-identically; the r18
    // shape re-ran the whole quantize + KmeansRounds training here on
    // every run). The DuckDB oracle still replays the full train+score
    // pipeline from the raw corpus — identical results, hash-checked.
    val ix = IvfIndex.path(spark, dir)
    val qv = spark.read.parquet(s"$ix/assignments").select("vec_id", "q")
    val cents = spark.read.parquet(s"$ix/centroids")
      .select(col("cell").as("cluster"), col("centroid").as("c"))
    val ranked = qv.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"),
        graft.functions.L2Sq(col("q"), col("c")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("d2"), col("cluster"))))
      .filter(col("rn") <= 2)
    def milli(src: String, out: String) = Seq(
      s"CAST(floor(sqrt(CAST($src * 1000000 AS DOUBLE))) AS BIGINT)" +
        s" AS ${out}_r0",
      s"$src * 1000000 AS ${out}_x")
    ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("d2").as("a2"))
      .join(ranked.filter(col("rn") === 2)
        .select(col("vec_id"), col("d2").as("b2")), "vec_id")
      .selectExpr(Seq("vec_id", "cluster") ++
        milli("a2", "a") ++ milli("b2", "b"): _*)
      .selectExpr("vec_id", "cluster",
        "a_x", "a_r0 + (CASE WHEN (a_r0 + 1) * (a_r0 + 1) <= a_x" +
          " THEN 1 ELSE 0 END) AS a_r1",
        "b_x", "b_r0 + (CASE WHEN (b_r0 + 1) * (b_r0 + 1) <= b_x" +
          " THEN 1 ELSE 0 END) AS b_r1")
      .selectExpr("vec_id", "cluster",
        "a_r1 - (CASE WHEN a_r1 * a_r1 > a_x THEN 1 ELSE 0 END) AS a_milli",
        "b_r1 - (CASE WHEN b_r1 * b_r1 > b_x THEN 1 ELSE 0 END) AS b_milli")
      .selectExpr("cluster",
        "CASE WHEN b_milli = 0 THEN 0 ELSE" +
          " CAST(CAST(b_milli - a_milli AS DECIMAL(38,0)) * 1000000" +
          " div b_milli AS BIGINT) END AS s_ppm")
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        expr("CAST(sum(CAST(s_ppm AS DECIMAL(38,0))) div count(1)" +
          " AS BIGINT)").as("mean_sil_ppm"),
        min("s_ppm").as("min_sil_ppm"), max("s_ppm").as("max_sil_ppm"))
  }

  /** Retrieval (the RAG serving shape): ANN candidates from the IVF
    * index joined back to the document store for the payload — index
    * finds, store serves. The doc join happens AFTER the top-k filter,
    * so only k rows per query ever touch the (wide) text column; at
    * corpus scale that join is a point-lookup pattern against a
    * doc_id-bucketed store. */
  def retrieval(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    retrievalFrom(annIvf(spark, dir), spark, dir, k)

  private def retrievalFrom(ann: DataFrame, spark: SparkSession, dir: String,
      k: Int): DataFrame =
    ann
      .filter(col("nn_rank") <= k)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("query_id"), col("nn_rank"), col("vec_id"), col("cos_sim"),
        col("source"), substring(col("text"), 1, 80).as("snippet"))

  /** The persisted IVF index: `centroids` and `assignments`. */
  private[graft] val IvfIndex = graft.Indexes.Artifact("ivf-ix") {
    (spark, dir, out) => buildIvfIndex(spark, dir, out)
  }

  /** Retrieval SERVED from the persisted IVF index: [[buildIvfIndex]]
    * writes centroids + assignments once, then the query plan reads
    * ONLY the index parquet (embeddings are never re-scanned or
    * re-quantized) plus the doc store post-top-k — the index-build /
    * index-serve split of a production vector-search deployment.
    * Result is identical to [[retrieval]] (same oracle). */
  def retrievalServed(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val out = IvfIndex.path(spark, dir)
    retrievalFrom(
      annIvfFrom(spark.read.parquet(s"$out/assignments"),
        spark.read.parquet(s"$out/centroids")),
      spark, dir, k)
  }

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * diversified top-k: greedily pick k items maximizing
    * `λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s)` — the standard
    * diversity-aware re-ranking for retrieval results and for
    * redundancy-free training-data selection (pick the most relevant
    * examples that aren't near-copies of already-picked ones).
    *
    * Exact-integer discipline: relevance and pair similarities are
    * micro-unit longs (`floor(cos·10⁶ + ½)`, the q_ann_pq rounding),
    * the objective is pure long arithmetic with λ in ppm, ties break
    * on vec_id — so the greedy argmax chain is bit-identical across
    * engines and the oracle replays all k steps as unrolled CTEs.
    *
    * Scale shape: the candidate pool (top-`nCand` by relevance per
    * query — at corpus scale the output of the IVF/LSH index, here the
    * brute-force scorer) is bounded, and pool assembly + the nCand²
    * pair-sim matrix stay distributed (the codegen'd cosine kernel);
    * the greedy argmax chain then runs PER QUERY inside one
    * flatMapGroups — O(k·nCand) long arithmetic over ≤ nCand·(nCand+1)
    * grouped rows, exactly the per-candidate-list rerank a production
    * serving tier does. A million-query batch is embarrassingly
    * parallel across groups with ONE shuffle total; the earlier
    * whole-batch relational loop (k global barriers of anti-join +
    * max-agg + window over KB tables) paid 3k tiny-job latencies for
    * zero extra parallelism — sequentiality inherent to MMR belongs
    * inside the bounded group, not in the job graph. */
  def mmrSelect(spark: SparkSession, dir: String, nQueries: Int = 3,
      nCand: Int = 25, k: Int = 8, lamPpm: Long = 700000L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("rel_micro").desc, col("vec_id"))
    val cand = qs.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        floor(cosine(col("qv"), col("embedding")) * 1000000 + 0.5)
          .cast("long").as("rel_micro"),
        col("embedding"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nCand)
      .drop("rn")
      .localCheckpoint()
    val sims = cand.as("a").join(cand.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        floor(cosine(col("a.embedding"), col("b.embedding")) * 1000000 + 0.5)
          .cast("long").as("sim_micro"))
    // Pool + pair matrix as one grouped stream: rel rows tagged j = -1
    // (vec_ids are non-negative), sim rows carry their pair. One
    // shuffle on query_id; the group payload is ≤ nCand·(nCand+1) rows
    // of 4 longs — KB-sized by construction.
    import spark.implicits._
    val grouped = cand
      .select(col("query_id"), col("vec_id").as("i"), lit(-1L).as("j"),
        col("rel_micro").as("v"))
      .unionAll(sims.select(col("query_id"), col("i"), col("j"),
        col("sim_micro").as("v")))
      .as[MmrRow]
    grouped.groupByKey(_.query_id)
      .flatMapGroups { (qid, rows) =>
        val rel = scala.collection.mutable.LongMap.empty[Long]
        val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        rows.foreach { m =>
          if (m.j == -1L) rel(m.i) = m.v else sim((m.i, m.j)) = m.v
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Long, Long, Long)]
        var step = 1
        while (step <= k && selected.size < rel.size) {
          // argmax of λ·rel − (1−λ)·max-sim-to-selected, ties on vec_id
          // ascending — the exact arithmetic and tie order the unrolled
          // oracle CTEs replay. max-sim is 0 at step 1 (empty S) but the
          // TRUE max thereafter — it can be negative (anti-correlated
          // vectors), matching the relational max aggregate it replaces.
          var bestId = -1L; var bestMmr = 0L; var bestRel = 0L
          var bestMax = 0L
          rel.foreach { case (i, r) =>
            if (!selected.contains(i)) {
              var mx = if (selected.isEmpty) 0L else Long.MinValue
              selected.foreach { s =>
                val v = sim((i, s)); if (v > mx) mx = v
              }
              val m = lamPpm * r - (1000000L - lamPpm) * mx
              if (bestId == -1L || m > bestMmr ||
                  (m == bestMmr && i < bestId)) {
                bestId = i; bestMmr = m; bestRel = r; bestMax = mx
              }
            }
          }
          out += ((qid, step, bestId, bestRel, bestMax, bestMmr))
          selected += bestId
          step += 1
        }
        out.iterator
      }
      .toDF("query_id", "step", "vec_id", "rel_micro", "max_sim_micro",
        "mmr_micro")
  }

  /** Retrieval-quality EVALUATION: recall@10 and MRR of the IVF index
    * against the brute-force ground truth, per query — the
    * index-quality monitor a production vector deployment runs on every
    * index rebuild (the moment recall drifts, cells need re-training;
    * see [[ivfIncremental]]'s drift signal for the ingest-side
    * counterpart). Metrics are exact micro-unit integers
    * (`n_overlap·10⁶ div 10`, `10⁶ div rank`), so the evaluation
    * itself is oracle-hash-checkable — an eval harness whose own
    * numbers are reproducible bit-for-bit.
    *
    * Scale: both arms are the registered top-k operators (at corpus
    * scale: the served index vs a SAMPLED exact pass — ground truth is
    * only ever computed for an audit sample of queries); the metric
    * join touches k rows per query. */
  def retrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    // Both ranked lists are k·|queries|-bounded: materialize each ONCE
    // (the annRecall/recallSweep discipline — un-checkpointed, the
    // recall arm and the MRR arm EACH re-ran the full brute-force and
    // IVF search chains: 6 embeddings scans in the r19 before-plan).
    // The post-checkpoint joins are broadcast-pinned (stats-less RDDs
    // default to SMJ on these tiny tables). Measured LOCAL cost ~+0.1 s
    // at sf0.1 (the tiny local chains re-ran cheaper than two eager
    // materializations) — kept anyway: re-running the exact arm per
    // reference is a full corpus re-scan at 100 TB, and the sibling
    // evals pin this exact shape.
    val truth = annTopK(spark, dir).select(col("query_id"), col("vec_id"),
      col("nn_rank"))
      .localCheckpoint()
    val cand = annIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), col("nn_rank").as("ivf_rank"))
      .localCheckpoint()
    val per = truth.join(broadcast(cand), Seq("query_id", "vec_id"),
        "left_outer")
      .groupBy("query_id").agg(count(col("ivf_rank")).as("n_overlap"))
    val top1 = truth.filter(col("nn_rank") === 1)
      .select(col("query_id"), col("vec_id").as("true_top1"))
      .join(broadcast(cand.withColumnRenamed("vec_id", "true_top1")
          .withColumnRenamed("ivf_rank", "top1_ivf_rank")),
        Seq("query_id", "true_top1"), "left_outer")
    per.join(broadcast(top1), "query_id")
      .select(col("query_id"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div ${k}L").as("recall_micro"),
        col("true_top1"), col("top1_ivf_rank"),
        expr("coalesce(1000000 div top1_ivf_rank, 0L)").as("mrr_micro"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_retrieval_eval" -> ((s, d) => retrievalEval(s, d)),
    "q_mmr_select" -> ((s, d) => mmrSelect(s, d)),
    "q_ivf_update" -> ivfIncremental,
    "q_jl_project" -> jlProject,
    "q_retrieval" -> ((s, d) => retrieval(s, d)),
    "q_retrieval_served" -> ((s, d) => retrievalServed(s, d)),
    "q_embedding_audit" -> embeddingAudit,
    "q_embedding_drift" -> ((s, d) => embeddingDrift(s, d)),
    "q_kcenter_seeds" -> ((s, d) => kcenterSeeds(s, d)),
    "q_kmeans_step" -> ((s, d) => kmeansStep(s, d)),
    "q_kmeans_train" -> ((s, d) => kmeansTrain(s, d)),
    "q_silhouette" -> ((s, d) => silhouette(s, d)),
    "q_bitext_mining" -> ((s, d) => bitextMining(s, d)),
    "q_dedup_embedding" -> embeddingNearDup,
    "q_ann_topk" -> annTopK,
    "q_ann_recall" -> annRecall,
    "q_retrieval_ndcg" -> ((s, d) => retrievalNdcg(s, d)),
    "q_recall_sweep" -> ((s, d) => recallSweep(s, d)),
    "q_probe_sweep" -> ((s, d) => probeSweep(s, d)),
    "q_ann_lsh" -> annLshNearDup,
    "q_ann_ivf" -> ((s, d) => annIvf(s, d)),
    "q_ann_pq" -> annPq,
    "q_ann_ivfpq" -> ((s, d) => annIvfPq(s, d)),
    "q_pca_power" -> ((s, d) => pcaPower(s, d)),
    "q_hard_negatives" -> hardNegatives,
    "q_semdedup" -> ((s, d) => semDedup(s, d)))

  /** Cosine between two array operands in DuckDB SQL, same fold order as
    * the Spark `cosine` above (sequential list_sum, divide by each norm
    * in turn). */
  private def cosSql(u: String, v: String): String =
    s"""list_sum(list_transform(range(1, 65),
       |  k -> CAST($u[k] AS DOUBLE) * CAST($v[k] AS DOUBLE)))
       |/ sqrt(list_sum(list_transform(range(1, 65), k -> CAST($u[k] AS DOUBLE) * CAST($u[k] AS DOUBLE))))
       |/ sqrt(list_sum(list_transform(range(1, 65), k -> CAST($v[k] AS DOUBLE) * CAST($v[k] AS DOUBLE))))"""
      .stripMargin

  // q_ann_lsh stays rows-only: hyperplane LSH at the cos ≥ 0.45
  // operating point has recall ≈ 0.85-0.93 by design (measured above) —
  // PipelineOpsSpec checks the recall bound, the subset property, and
  // the candidate-count bound instead of a SQL oracle.

  /** Full IVF quantize→probe→score replay, shared by the q_ann_ivf
    * oracle and the retrieval wrapper. */
  /** IVF probe WITH-chain (through `probed`) shared by [[ivfSql]] and
    * the IVF-PQ oracle, so the probe stage cannot drift between the
    * float-scoring and ADC-scoring serves. */
  private lazy val ivfProbeCtes: String = ivfProbeCtesP(2)

  /** Trained-quantizer replay: the shared k-means CTE chain (identical
    * to q_kmeans_train's — same model by construction), the
    * final-centroid assignment, and the query probe by exact int L2²
    * in the quantized space. Also defines `asg`, which the scoring
    * stages join for cell membership (cells are learned clusters now,
    * not labels). */
  private def ivfProbeCtesP(probes: Int): String =
    s"""${kmeansCtes(KmeansRounds).stripPrefix("WITH ")},
       |ctr AS (SELECT cluster AS cell, c FROM c$KmeansRounds),
       |asg AS (
       |  SELECT vec_id, cell, q FROM (
       |    SELECT vec_id, cell, q,
       |           row_number() OVER (PARTITION BY vec_id
       |             ORDER BY d2, cell) AS rn
       |    FROM (SELECT q.vec_id, c.cell, q.q,
       |                 list_sum(list_transform(range(1, 65), i ->
       |                   (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS d2
       |          FROM q CROSS JOIN ctr c))
       |  WHERE rn = 1),
       |queries AS (
       |  SELECT a.vec_id AS query_id, e.embedding AS qv, a.q AS qq
       |  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
       |  WHERE a.vec_id < 5),
       |cellsim AS (
       |  SELECT query_id, qv, c.cell,
       |         list_sum(list_transform(range(1, 65), i ->
       |           (qq[i] - c.c[i]) * (qq[i] - c.c[i]))) AS cell_d2
       |  FROM queries CROSS JOIN ctr c),
       |probed AS (
       |  SELECT query_id, qv, cell
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY cell_d2, cell) AS r FROM cellsim)
       |  WHERE r <= $probes)""".stripMargin

  private lazy val ivfSql: String = ivfSqlP(2)

  private def ivfSqlP(probes: Int): String =
    s"""WITH ${ivfProbeCtesP(probes)},
       |scored AS (
       |  SELECT p.query_id, e.vec_id, p.cell,
       |         round(${cosSql("p.qv", "e.embedding")}, 6) AS cos_sim
       |  FROM probed p
       |  JOIN asg s ON s.cell = p.cell
       |  JOIN embeddings e
       |    ON e.vec_id = s.vec_id AND e.vec_id <> p.query_id)
       |SELECT query_id, vec_id, cell, cos_sim, CAST(r AS INT) AS nn_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, vec_id) AS r FROM scored)
       |WHERE r <= 10""".stripMargin
  /** Oracle for [[pcaPower]]: the Gram aggregate + the deterministic
    * matvec rounds unrolled as CTEs (the kmeans/LPA technique). */
  private def pcaPowerSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""u$r AS (
         |  SELECT ci, CAST(sum(c * v) AS HUGEINT) AS u
         |  FROM cov JOIN v${r - 1} ON cj = vj GROUP BY 1),
         |m$r AS (SELECT max(abs(u)) AS m FROM u$r),
         |v$r AS (
         |  SELECT ci AS vj,
         |         CAST(CASE WHEN m = 0 THEN 0
         |           WHEN u >= 0 THEN u * 1000000 // m
         |           ELSE -((-u) * 1000000 // m) END AS HUGEINT) AS v
         |  FROM u$r CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT vec_id, k - 1 AS i,
       |         CAST(floor(CAST(embedding[k] AS DOUBLE) * 1000.0 + 0.5)
       |           AS BIGINT) AS q
       |  FROM embeddings, range(1, 65) t(k)),
       |cov AS (
       |  SELECT a.i AS ci, b.i AS cj,
       |         CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS HUGEINT) AS c
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT CAST(j AS INT) AS vj, CAST(1000000 AS HUGEINT) AS v
       |       FROM range(0, 64) t(j)),
       |$roundCtes
       |SELECT CAST(vj AS INT) AS pos, CAST(v AS BIGINT) AS component_micro
       |FROM v$rounds""".stripMargin
  }

  /** PQ WITH-chain (anchors → distance table → codes → query LUT)
    * shared by the q_ann_pq oracle and the IVF-PQ oracle, so the
    * encode stage cannot drift between the flat-ADC and IVF-ADC
    * serves. */
  private lazy val pqCodeCtes: String =
    s"""a AS (
       |  SELECT vec_id AS anchor_id, embedding AS anchor
       |  FROM embeddings WHERE vec_id < $PqAnchors),
       |m AS (SELECT unnest(range(0, $PqSubspaces)) AS m),
       |d AS (
       |  SELECT e.vec_id, a.anchor_id, m.m, $pqSsdSql AS ssd
       |  FROM embeddings e CROSS JOIN a CROSS JOIN m),
       |codes AS (
       |  SELECT vec_id, m, CAST(p % 16 AS BIGINT) AS code
       |  FROM (SELECT vec_id, m,
       |          min(CAST(floor(ssd * 1000000.0 + 0.5) AS BIGINT) * 16
       |              + anchor_id) AS p
       |        FROM d GROUP BY 1, 2) pk),
       |lut AS (
       |  SELECT vec_id AS query_id, m, anchor_id,
       |         CAST(floor(ssd * 1000000.0 + 0.5) AS BIGINT) AS micro
       |  FROM d WHERE vec_id < 5)""".stripMargin

  /** Left-associated squared-L2 sum for subspace `m.m` in DuckDB,
    * term-for-term the tree pqDistances builds (1-based list indexing
    * vs Spark's 0-based getItem — same elements). */
  private def pqSsdSql: String =
    (1 to PqSubDim).map { j =>
      val e = s"CAST(e.embedding[m.m * $PqSubDim + $j] AS DOUBLE)"
      val a = s"CAST(a.anchor[m.m * $PqSubDim + $j] AS DOUBLE)"
      s"($e - $a) * ($e - $a)"
    }.mkString(" + ")

  /** Oracle for [[kmeansTrain]], generated for the same round count:
    * quantize once, then per round the assignment (argmin with
    * (distance, cluster) tie-break), the floor-div centroid update in
    * +128-shifted space, and the list re-assembly feeding the next
    * round — the adaptive loop unrolled as CTEs (same technique as the
    * BPE oracle). */
  /** Oracle for [[kcenterSeeds]]: the incremental farthest-point
    * rounds unrolled (same quantization base as the kmeans chain). */
  private def kcenterSql(k: Int): String = {
    def l2(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val roundCtes = (2 to k).map { r =>
      val pick =
        s"""pk$r AS (
           |  SELECT vec_id AS seed_id, q AS c, dmin AS radius_d2
           |  FROM st${r - 1} ORDER BY dmin DESC, vec_id LIMIT 1)"""
          .stripMargin
      if (r < k) pick + s""",
         |st$r AS (
         |  SELECT s.vec_id, s.q,
         |         least(s.dmin, ${l2("s.q", "p.c")}) AS dmin
         |  FROM st${r - 1} s CROSS JOIN pk$r p)""".stripMargin
      else pick
    }.mkString(",\n")
    val finals = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS INT), seed_id, CAST(radius_d2 AS BIGINT) FROM pk$r")
      .mkString("\n")
    s"""WITH am AS (
       |  SELECT greatest(max(list_max(list_transform(embedding,
       |           x -> abs(CAST(x AS DOUBLE))))), 1e-30) AS absmax
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x ->
       |           CAST(floor(CAST(x AS DOUBLE) * (127.0 / am.absmax) + 0.5)
       |             AS BIGINT)) AS q
       |  FROM embeddings, am),
       |s1 AS (SELECT vec_id AS seed_id, q AS c FROM q WHERE vec_id = 0),
       |st1 AS (
       |  SELECT q.vec_id, q.q, ${l2("q.q", "s.c")} AS dmin
       |  FROM q CROSS JOIN s1 s),
       |$roundCtes
       |SELECT CAST(1 AS INT) AS seed_rank, seed_id,
       |       CAST(0 AS BIGINT) AS radius_d2 FROM s1
       |$finals""".stripMargin
  }

  /** Oracle for [[embeddingDrift]]: the shared kmeans chain + the
    * parity-half cell shares. */
  private def embeddingDriftSql(rounds: Int): String =
    kmeansCtes(rounds) +
      s""",
         |df AS (
         |  SELECT q.vec_id, c.cluster,
         |         list_sum(list_transform(range(1, 65), i ->
         |           (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS d2
         |  FROM q CROSS JOIN c$rounds c),
         |asg AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY d2, cluster) AS rn FROM df) t
         |  WHERE rn = 1),
         |cell AS (
         |  SELECT cluster,
         |         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS na,
         |         CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS nb
         |  FROM asg GROUP BY 1),
         |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
         |               CAST(sum(nb) AS BIGINT) AS tb FROM cell)
         |SELECT cluster, na, nb,
         |       CAST(na * 1000000 // ta AS BIGINT) AS share_a_ppm,
         |       CAST(nb * 1000000 // tb AS BIGINT) AS share_b_ppm,
         |       CAST(abs(na * 1000000 // ta - nb * 1000000 // tb)
         |         AS BIGINT) AS abs_gap_ppm
         |FROM cell CROSS JOIN tot""".stripMargin

  private def kmeansSql(rounds: Int): String =
    kmeansCtes(rounds) + s"\nSELECT cluster, pos, c_new, n_members FROM u$rounds"

  /** The WITH-chain of [[kmeansSql]] without the final SELECT — shared
    * with [[silhouetteSql]] so the evaluated model and the trained
    * model cannot drift. */
  private def kmeansCtes(rounds: Int): String = {
    val base =
      """WITH am AS (
        |  SELECT greatest(max(list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE))))), 1e-30) AS absmax
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x ->
        |           CAST(floor(CAST(x AS DOUBLE) * (127.0 / am.absmax) + 0.5)
        |             AS BIGINT)) AS q
        |  FROM embeddings, am),
        |c0 AS (SELECT vec_id AS cluster, q AS c FROM q WHERE vec_id < 8)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS (
         |  SELECT q.vec_id, c.cluster, q.q,
         |         list_sum(list_transform(range(1, 65), i ->
         |           (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS d2
         |  FROM q CROSS JOIN c${r - 1} c),
         |a$r AS (
         |  SELECT cluster, q FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY d2, cluster) AS rn
         |    FROM d$r) WHERE rn = 1),
         |u$r AS (
         |  SELECT a.cluster, CAST(rr.range - 1 AS INT) AS pos,
         |         CAST((CAST(sum(a.q[rr.range] + 128) AS BIGINT) // count(*))
         |              - 128 AS BIGINT) AS c_new,
         |         count(*) AS n_members
         |  FROM a$r a CROSS JOIN range(1, 65) rr
         |  GROUP BY 1, 2),
         |c$r AS (SELECT cluster, list(c_new ORDER BY pos) AS c
         |        FROM u$r GROUP BY 1)""".stripMargin
    }
    (base +: roundCtes).mkString(",\n")
  }

  /** Oracle for [[silhouette]]: the full kmeans CTE chain, then the
    * final-centroid assignment, nearest/second-nearest ranks, the exact
    * integer sqrt (float seed + ±1 correction, the q_power_mde
    * primitive), and the per-cluster silhouette aggregate. */
  private def silhouetteSql(rounds: Int): String =
    kmeansCtes(rounds) +
      s""",
         |df AS (
         |  SELECT q.vec_id, c.cluster,
         |         list_sum(list_transform(range(1, 65), i ->
         |           (q.q[i] - c.c[i]) * (q.q[i] - c.c[i]))) AS d2
         |  FROM q CROSS JOIN c$rounds c),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY d2, cluster) AS rn
         |  FROM df),
         |ab AS (
         |  SELECT a.vec_id, a.cluster,
         |         a.d2 * 1000000 AS a_x, b.d2 * 1000000 AS b_x
         |  FROM (SELECT * FROM rk WHERE rn = 1) a
         |  JOIN (SELECT * FROM rk WHERE rn = 2) b ON a.vec_id = b.vec_id),
         |s0 AS (
         |  SELECT *, CAST(floor(sqrt(CAST(a_x AS DOUBLE))) AS BIGINT) AS a_r0,
         |         CAST(floor(sqrt(CAST(b_x AS DOUBLE))) AS BIGINT) AS b_r0
         |  FROM ab),
         |s1 AS (
         |  SELECT *, a_r0 + (CASE WHEN (a_r0 + 1) * (a_r0 + 1) <= a_x
         |           THEN 1 ELSE 0 END) AS a_r1,
         |         b_r0 + (CASE WHEN (b_r0 + 1) * (b_r0 + 1) <= b_x
         |           THEN 1 ELSE 0 END) AS b_r1
         |  FROM s0),
         |s2 AS (
         |  SELECT vec_id, cluster,
         |         a_r1 - (CASE WHEN a_r1 * a_r1 > a_x THEN 1 ELSE 0 END)
         |           AS a_milli,
         |         b_r1 - (CASE WHEN b_r1 * b_r1 > b_x THEN 1 ELSE 0 END)
         |           AS b_milli
         |  FROM s1),
         |sil AS (
         |  SELECT cluster,
         |         CASE WHEN b_milli = 0 THEN 0 ELSE
         |           CAST(CAST(b_milli - a_milli AS HUGEINT) * 1000000
         |             // b_milli AS BIGINT) END AS s_ppm
         |  FROM s2)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(sum(CAST(s_ppm AS HUGEINT)) // count(*) AS BIGINT)
         |         AS mean_sil_ppm,
         |       CAST(min(s_ppm) AS BIGINT) AS min_sil_ppm,
         |       CAST(max(s_ppm) AS BIGINT) AS max_sil_ppm
         |FROM sil GROUP BY 1""".stripMargin

  /** Oracle for [[mmrSelect]]: the greedy loop unrolled as one CTE
    * chain per step (sel1..selK), each step an argmax over the exact
    * integer objective with the identical vec_id tiebreak — the same
    * adaptive-loop-as-CTEs technique as the BPE/k-means oracles.
    * Candidate pool, pair sims, λ and k come from the SAME constants
    * the operator uses, so operator and oracle cannot drift. */
  private def mmrSql(nQueries: Int, nCand: Int, k: Int, lamPpm: Long): String = {
    val mu = 1000000L - lamPpm
    val base =
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |         CAST(floor((${cosSql("q.qv", "e.embedding")}) * 1000000 + 0.5)
         |           AS BIGINT) AS rel_micro,
         |         e.embedding
         |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, vec_id, rel_micro, embedding
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY rel_micro DESC, vec_id) AS rn FROM scored)
         |  WHERE rn <= $nCand),
         |sims AS MATERIALIZED (
         |  SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
         |         CAST(floor((${cosSql("a.embedding", "b.embedding")}) * 1000000 + 0.5)
         |           AS BIGINT) AS sim_micro
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
         |pick1 AS (
         |  SELECT query_id, CAST(1 AS INT) AS step, vec_id, rel_micro,
         |         CAST(0 AS BIGINT) AS max_sim_micro,
         |         CAST($lamPpm * rel_micro AS BIGINT) AS mmr_micro
         |  FROM (SELECT query_id, vec_id, rel_micro,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY rel_micro DESC, vec_id) AS rn
         |        FROM cand)
         |  WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT * FROM pick1)""".stripMargin
    val steps = (2 to k).map { n =>
      s"""pick$n AS (
         |  SELECT query_id, CAST($n AS INT) AS step, vec_id, rel_micro,
         |         max_sim_micro,
         |         CAST($lamPpm * rel_micro - $mu * max_sim_micro AS BIGINT)
         |           AS mmr_micro
         |  FROM (
         |    SELECT x.*, row_number() OVER (PARTITION BY x.query_id
         |      ORDER BY $lamPpm * x.rel_micro - $mu * x.max_sim_micro DESC,
         |        x.vec_id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.vec_id, c.rel_micro,
         |             max(s.sim_micro) AS max_sim_micro
         |      FROM cand c
         |      JOIN sims s ON s.query_id = c.query_id AND s.i = c.vec_id
         |      JOIN sel${n - 1} t ON t.query_id = s.query_id AND t.vec_id = s.j
         |      WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} u
         |        WHERE u.query_id = c.query_id AND u.vec_id = c.vec_id)
         |      GROUP BY c.query_id, c.vec_id, c.rel_micro) x)
         |  WHERE rn = 1),
         |sel$n AS MATERIALIZED (SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM pick$n)"""
        .stripMargin
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT query_id, step, vec_id, rel_micro, max_sim_micro, mmr_micro FROM sel$k"
  }

  val oracles: Map[String, String] = Map(
    "q_mmr_select" -> mmrSql(3, 25, 8, 700000L),
    "q_ivf_update" ->
      s"""WITH hist AS (
         |  SELECT vec_id, label AS cell, embedding
         |  FROM embeddings WHERE vec_id % 5 <> 4),
         |cent AS (
         |  SELECT cell, k,
         |         quantile_cont(CAST(embedding[k] AS DOUBLE), 0.5) AS c
         |  FROM hist, range(1, 65) t(k)
         |  GROUP BY cell, k),
         |centroids AS (
         |  SELECT cell, list(c ORDER BY k) AS centroid FROM cent GROUP BY cell),
         |batch AS (
         |  SELECT vec_id, label, embedding
         |  FROM embeddings WHERE vec_id % 5 = 4),
         |sims AS (
         |  SELECT b.vec_id, b.label, c.cell,
         |         round(${cosSql("b.embedding", "c.centroid")}, 6) AS sim
         |  FROM batch b CROSS JOIN centroids c),
         |asg AS (
         |  SELECT vec_id, label, cell
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |          ORDER BY sim DESC, cell) AS rn FROM sims)
         |  WHERE rn = 1),
         |hc AS (SELECT cell, count(*) AS n_existing FROM hist GROUP BY 1),
         |na AS (
         |  SELECT cell, count(*) AS n_new,
         |         sum(CASE WHEN cell = label THEN 1 ELSE 0 END)
         |           AS n_label_match
         |  FROM asg GROUP BY 1)
         |SELECT hc.cell, hc.n_existing,
         |       CAST(coalesce(na.n_new, 0) AS BIGINT) AS n_new,
         |       CAST(coalesce(na.n_label_match, 0) AS BIGINT)
         |         AS n_label_match,
         |       CAST(coalesce(na.n_new, 0) * 1000000 // hc.n_existing
         |         AS BIGINT) AS growth_ppm
         |FROM hc LEFT JOIN na USING (cell)""".stripMargin,
    "q_ann_pq" ->
      s"""WITH $pqCodeCtes,
         |scored AS (
         |  SELECT l.query_id, c.vec_id,
         |         CAST(sum(l.micro) AS BIGINT) AS approx_l2_micro
         |  FROM codes c JOIN lut l
         |    ON l.m = c.m AND l.anchor_id = c.code AND c.vec_id <> l.query_id
         |  GROUP BY 1, 2)
         |SELECT query_id, vec_id, approx_l2_micro, CAST(r AS INT) AS nn_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY approx_l2_micro, vec_id) AS r FROM scored)
         |WHERE r <= 10""".stripMargin,
    "q_ann_ivf" -> ivfSql,
    "q_pca_power" -> pcaPowerSql(PcaRounds),
    // IVF-PQ: the shared probe chain picks the cells, the shared PQ
    // chain encodes the corpus, ADC scores only in-cell candidates.
    "q_ann_ivfpq" ->
      s"""WITH $ivfProbeCtes,
         |$pqCodeCtes,
         |cands AS (
         |  SELECT p.query_id, s.vec_id
         |  FROM probed p JOIN asg s
         |    ON s.cell = p.cell AND s.vec_id <> p.query_id),
         |scored AS (
         |  SELECT ca.query_id, ca.vec_id,
         |         CAST(sum(l.micro) AS BIGINT) AS approx_l2_micro
         |  FROM cands ca
         |  JOIN codes c ON c.vec_id = ca.vec_id
         |  JOIN lut l ON l.query_id = ca.query_id AND l.m = c.m
         |    AND l.anchor_id = c.code
         |  GROUP BY 1, 2)
         |SELECT query_id, vec_id, approx_l2_micro, CAST(r AS INT) AS nn_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY approx_l2_micro, vec_id) AS r FROM scored)
         |WHERE r <= 10""".stripMargin,
    // Truth arm mirrors the q_ann_topk CTEs; candidate arm is the full
    // IVF replay. The metrics are pure integer arithmetic on the two
    // rank lists.
    "q_retrieval_eval" ->
      s"""WITH tscored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |         round($cosineSql, 6) AS cos_sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 5),
         |truth AS (
         |  SELECT query_id, vec_id, nn_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS nn_rank FROM tscored)
         |  WHERE nn_rank <= 10),
         |r AS ($ivfSql),
         |o AS (SELECT t.query_id, t.vec_id, c.nn_rank AS ivf_rank
         |      FROM truth t LEFT JOIN r c
         |        ON c.query_id = t.query_id AND c.vec_id = t.vec_id),
         |per AS (SELECT query_id, CAST(count(ivf_rank) AS BIGINT) AS n_overlap
         |        FROM o GROUP BY 1),
         |t1 AS (SELECT query_id, vec_id AS true_top1 FROM truth
         |       WHERE nn_rank = 1),
         |t1r AS (SELECT t1.query_id, t1.true_top1, c.nn_rank AS top1_ivf_rank
         |        FROM t1 LEFT JOIN r c
         |          ON c.query_id = t1.query_id AND c.vec_id = t1.true_top1)
         |SELECT p.query_id, p.n_overlap,
         |       CAST(p.n_overlap * 1000000 // 10 AS BIGINT) AS recall_micro,
         |       t.true_top1, CAST(t.top1_ivf_rank AS INT) AS top1_ivf_rank,
         |       CAST(coalesce(1000000 // t.top1_ivf_rank, 0) AS BIGINT)
         |         AS mrr_micro
         |FROM per p JOIN t1r t ON t.query_id = p.query_id""".stripMargin,
    "q_retrieval" ->
      s"""WITH r AS ($ivfSql)
         |SELECT r.query_id, r.nn_rank, r.vec_id, r.cos_sim,
         |       d.source, substr(d.text, 1, 80) AS snippet
         |FROM r JOIN documents d ON r.vec_id = d.doc_id
         |WHERE r.nn_rank <= 5""".stripMargin,
    "q_bitext_mining" ->
      s"""WITH ei AS (
         |  SELECT e.vec_id, e.embedding, d.lang
         |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
         |p AS (
         |  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
         |         a.lang AS lang_i, b.lang AS lang_j,
         |         round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |  FROM ei a JOIN ei b
         |    ON a.vec_id < b.vec_id AND a.lang <> b.lang)
         |SELECT vec_i, vec_j, lang_i, lang_j, cos_sim, CAST(rk AS INT) AS rk
         |FROM (SELECT *, row_number() OVER (ORDER BY cos_sim DESC,
         |        vec_i, vec_j) AS rk
         |      FROM p WHERE cos_sim >= 0.45)
         |WHERE rk <= 20""".stripMargin,
    // Full quantize→assign→update replay in exact integers; the train
    // form unrolls the SAME per-round CTEs for KmeansRounds.
    "q_kmeans_step" -> kmeansSql(1),
    "q_kmeans_train" -> kmeansSql(KmeansRounds),
    "q_kcenter_seeds" -> kcenterSql(KCenterK),
    "q_embedding_drift" -> embeddingDriftSql(KmeansRounds),
    "q_embedding_audit" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x ->
        |           CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
        |             AS BIGINT)) AS qa
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, qa,
        |         CAST(list_sum(list_transform(qa, x -> x * x)) AS BIGINT)
        |           AS n2,
        |         CAST(len(list_filter(qa, x -> x = 0)) AS BIGINT)
        |           AS zdims
        |  FROM q),
        |dups AS (SELECT qa, min(vec_id) AS keeper FROM qq GROUP BY 1)
        |SELECT CAST(length(bin(n2)) AS INT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_vectors,
        |       CAST(sum(zdims) AS BIGINT) AS n_zero_dims,
        |       CAST(sum(CASE WHEN qq.vec_id <> d.keeper THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_dup_vectors,
        |       CAST(min(n2) AS BIGINT) AS min_norm2,
        |       CAST(max(n2) AS BIGINT) AS max_norm2
        |FROM qq JOIN dups d USING (qa)
        |GROUP BY 1""".stripMargin,
    "q_silhouette" -> silhouetteSql(KmeansRounds),
    // Served form is result-identical to q_retrieval by construction
    // (same quantizer, same assignments, just persisted) — same oracle.
    "q_retrieval_served" ->
      s"""WITH r AS ($ivfSql)
         |SELECT r.query_id, r.nn_rank, r.vec_id, r.cos_sim,
         |       d.source, substr(d.text, 1, 80) AS snippet
         |FROM r JOIN documents d ON r.vec_id = d.doc_id
         |WHERE r.nn_rank <= 5""".stripMargin,
    "q_dedup_embedding" ->
      s"""SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
         |       a.label = b.label AS same_label,
         |       round($cosineSql, 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE round($cosineSql, 6) >= 0.45""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
         |  FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id, e.label,
         |         round(${cosSql("q.qv", "e.embedding")}, 6) AS cos_sim
         |  FROM q JOIN embeddings e
         |    ON e.vec_id <> q.query_id AND e.label <> q.q_label)
         |SELECT query_id, vec_id, label, cos_sim, CAST(r AS INT) AS neg_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, vec_id) AS r FROM scored)
         |WHERE r <= 5""".stripMargin,
    // Same md5-parity sign matrix, re-derived in SQL; k-1 maps DuckDB's
    // 1-based list index onto the Scala matrix's 0-based input dim.
    "q_jl_project" ->
      """SELECT e.vec_id, CAST(j.j AS INT) AS j,
        |       round(list_sum(list_transform(range(1, 65), k ->
        |         CAST(e.embedding[k] AS DOUBLE) *
        |         (CASE WHEN CAST(('0x' || substr(md5('jl_' ||
        |                  CAST(j.j AS VARCHAR) || '_' ||
        |                  CAST(k - 1 AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END))), 6) AS proj_r6
        |FROM embeddings e, range(0, 16) j(j)""".stripMargin,
    "q_semdedup" ->
      s"""WITH dom AS (
         |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dominator
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round($cosineSql, 6) >= 0.45
         |  GROUP BY 1)
         |SELECT e.vec_id, e.label AS cell,
         |       dom.dominator IS NULL AS kept,
         |       coalesce(dom.dominator, e.vec_id) AS keeper
         |FROM embeddings e LEFT JOIN dom ON e.vec_id = dom.vec_id""".stripMargin,
    "q_ann_topk" -> topkSql,
    // The LAST formerly-rows-only query: full DuckDB replay of the
    // hyperplane LSH — 736 md5-deterministic planes (planeComponent:
    // 48-bit hash / 2^47 - 1), 92 bands x 8 sign bits, >=2-band
    // candidate rule, exact-cosine verify at 0.45 — so banding itself
    // is hash-checked, not just spec recall-bounded. Plane weights are
    // materialized once per plane as a 64-list (47k md5 calls total,
    // not 23M) and each (vector, plane) dot is a single sequential
    // list_sum, matching the codegen kernel's accumulation order.
    "q_ann_lsh" ->
      s"""WITH planes AS (
         |  SELECT t.p, CAST(t.p // ${LshBandBits} AS BIGINT) AS band_idx,
         |         CAST(t.p % ${LshBandBits} AS INT) AS bit,
         |         list_transform(range(0, 64), k ->
         |           CAST(('0x' || substr(md5(CAST(t.p AS VARCHAR) || '_' ||
         |             CAST(k AS VARCHAR)), 1, 12)) AS BIGINT)
         |             / 140737488355328.0 - 1.0) AS w
         |  FROM range(0, ${LshNumBands * LshBandBits}) t(p)),
         |bits AS (
         |  SELECT e.vec_id, p.band_idx,
         |         CASE WHEN list_sum(list_transform(range(1, 65), k ->
         |                CAST(e.embedding[k] AS DOUBLE) * p.w[k])) > 0
         |              THEN CAST(1 AS BIGINT) << p.bit
         |              ELSE CAST(0 AS BIGINT) END AS bitval
         |  FROM embeddings e CROSS JOIN planes p),
         |bands AS (
         |  SELECT vec_id, band_idx, CAST(sum(bitval) AS BIGINT) AS band_val
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT x.vec_id AS vec_i, y.vec_id AS vec_j
         |  FROM bands x JOIN bands y
         |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         |   AND x.vec_id < y.vec_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= ${LshMinMatchingBands})
         |SELECT vec_i, vec_j, cos_sim
         |FROM (
         |  SELECT c.vec_i, c.vec_j, round($cosineSql, 6) AS cos_sim
         |  FROM cand c
         |  JOIN embeddings a ON c.vec_i = a.vec_id
         |  JOIN embeddings b ON c.vec_j = b.vec_id) v
         |WHERE cos_sim >= 0.45""".stripMargin,
    "q_recall_sweep" ->
      s"""WITH ex0 AS ($topkSql),
         |ap0 AS ($ivfSql),
         |ks AS (SELECT unnest([1, 5, 10]) AS k),
         |ex AS (SELECT ks.k, e.query_id, e.vec_id
         |       FROM ex0 e CROSS JOIN ks WHERE e.nn_rank <= ks.k),
         |ap AS (SELECT ks.k, a.query_id, a.vec_id
         |       FROM ap0 a CROSS JOIN ks WHERE a.nn_rank <= ks.k),
         |hits AS (
         |  SELECT ex.k, ex.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM ex SEMI JOIN ap
         |    ON ex.k = ap.k AND ex.query_id = ap.query_id
         |   AND ex.vec_id = ap.vec_id
         |  GROUP BY 1, 2)
         |SELECT t.query_id, CAST(t.k AS INT) AS k,
         |       coalesce(h.n_hit, 0) AS n_hit,
         |       CAST(coalesce(h.n_hit, 0) * 1000000 // t.kk AS BIGINT)
         |         AS recall_ppm
         |FROM (SELECT k, query_id, CAST(count(*) AS BIGINT) AS kk
         |      FROM ex GROUP BY 1, 2) t
         |LEFT JOIN hits h ON h.k = t.k AND h.query_id = t.query_id"""
        .stripMargin,
    "q_probe_sweep" ->
      Seq(1, 2, 3).map { p =>
        s"""SELECT t.query_id, CAST($p AS INT) AS nprobe,
           |       coalesce(h.n_hit, 0) AS n_hit,
           |       CAST(coalesce(h.n_hit, 0) * 1000000 // t.kk AS BIGINT)
           |         AS recall_ppm
           |FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS kk
           |      FROM ($topkSql) e GROUP BY 1) t
           |LEFT JOIN (
           |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
           |  FROM ($topkSql) e SEMI JOIN (${ivfSqlP(p)}) a
           |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id
           |  GROUP BY 1) h ON h.query_id = t.query_id""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q_retrieval_ndcg" ->
      s"""WITH ex0 AS ($topkSql),
         |ap0 AS ($ivfSql),
         |ex AS (SELECT query_id, vec_id FROM ex0),
         |disc AS (SELECT * FROM (VALUES (1, 1000), (2, 630), (3, 500),
         |  (4, 430), (5, 386), (6, 356), (7, 333), (8, 315), (9, 301),
         |  (10, 289)) d(rk, g)),
         |gains AS (
         |  SELECT a.query_id, CAST(sum(d.g) AS BIGINT) AS dcg_milli
         |  FROM ap0 a
         |  SEMI JOIN ex ON ex.query_id = a.query_id
         |    AND ex.vec_id = a.vec_id
         |  JOIN disc d ON d.rk = a.nn_rank
         |  GROUP BY 1),
         |ideal AS (SELECT * FROM (VALUES (1, 1000), (2, 1630),
         |  (3, 2130), (4, 2560), (5, 2946), (6, 3302), (7, 3635),
         |  (8, 3950), (9, 4251), (10, 4540)) i(rk, s))
         |SELECT k.query_id, k.k, coalesce(g.dcg_milli, 0) AS dcg_milli,
         |       CAST(coalesce(g.dcg_milli, 0) * 1000000 // i.s
         |         AS BIGINT) AS ndcg_ppm
         |FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS k
         |      FROM ex GROUP BY 1) k
         |JOIN ideal i ON i.rk = k.k
         |LEFT JOIN gains g ON g.query_id = k.query_id""".stripMargin,
    "q_ann_recall" ->
      s"""WITH ex0 AS ($topkSql),
         |ap0 AS ($ivfSql),
         |ex AS (SELECT query_id, vec_id FROM ex0),
         |hits AS (
         |  SELECT ex.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM ex SEMI JOIN ap0
         |    ON ex.query_id = ap0.query_id AND ex.vec_id = ap0.vec_id
         |  GROUP BY 1)
         |SELECT k.query_id, k.k, coalesce(h.n_hit, 0) AS n_hit,
         |       CAST(coalesce(h.n_hit, 0) * 1000000 // k.k AS BIGINT)
         |         AS recall_ppm
         |FROM (SELECT query_id, CAST(count(*) AS BIGINT) AS k
         |      FROM ex GROUP BY 1) k
         |LEFT JOIN hits h ON k.query_id = h.query_id""".stripMargin)

  /** Exact brute-force top-10 oracle, shared by q_ann_topk and (as the
    * ground-truth CTE) q_ann_recall — one definition so the eval can
    * never disagree with the query it grades. */
  private lazy val topkSql: String =
    s"""WITH scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
       |         round($cosineSql, 6) AS cos_sim
       |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 5)
       |SELECT query_id, vec_id, cos_sim,
       |       CAST(nn_rank_big AS INT) AS nn_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_sim DESC, vec_id) AS nn_rank_big
       |      FROM scored) r
       |WHERE nn_rank_big <= 10""".stripMargin
}
