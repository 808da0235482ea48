package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Scale posture of the dedup family: connected-components round
  * bounds on adversarial (long-chain) graphs, reliable-checkpoint
  * mode, and the persisted shingle-index multi-consumer exemplar.
  */
class DedupScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("dedup-scale-spec", cores = "4")

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  test("connected components: 100-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // Worst case for pure propagation: a single chain 0-1-2-...-99
    // (diameter 99). Pointer jumping must crush it to ~log2 rounds.
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    val (labels, rounds) = Dedup.connectedComponents(chain)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == 100)
    assert(out.values.forall(_ == 0L), "every node must label to the chain min")
    assert(rounds <= 12,
      s"pointer jumping should need ~log2(100) rounds, took $rounds")
  }

  test("connected components: multiple components + reliable checkpoints") {
    import spark.implicits._
    // Two chains and an isolated pair; run under reliable-checkpoint
    // mode (the 100 TB configuration) and check the same fixpoint.
    val edges = ((0L until 9L).map(i => (i, i + 1)) ++
      (20L until 29L).map(i => (i, i + 1)) ++ Seq((40L, 41L)))
      .toDF("doc_i", "doc_j")
    val ckpt = Files.createTempDirectory("graft-cc-ckpt").toFile
    spark.sparkContext.setCheckpointDir(ckpt.getAbsolutePath)
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      val (labels, _) = Dedup.connectedComponents(edges)
      val comp = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert((0L to 9L).forall(comp(_) == 0L))
      assert((20L to 29L).forall(comp(_) == 20L))
      assert(comp(40L) == 40L && comp(41L) == 40L)
    } finally spark.conf.set("spark.graft.reliableCheckpoints", "false")
  }

  test("ppjoin prefix filter prunes candidates and loses no true pair") {
    val ex = Dedup.shingleIndex(spark, sfDir)
    // Baseline candidate space: every pair sharing >=1 shingle (what
    // the exact jaccard join enumerates).
    val fullPairs = ex.as("a")
      .join(ex.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val candidates = Dedup.ppjoinCandidates(ex)
    val nCand = candidates.count()
    // Strict losslessness below is the correctness contract; the pruning
    // bound is deliberately loose (any strict subset) so a regenerated
    // corpus can't flake it — the achieved ratio is logged instead.
    info(f"ppjoin pruning: kept $nCand of $fullPairs " +
      f"(${100.0 * nCand / fullPairs}%.1f%%)")
    assert(nCand < fullPairs,
      s"prefix+size filtering must prune the shared-shingle pair space, " +
        s"kept $nCand of $fullPairs")
    // Losslessness (the PPJoin theorem, empirically): every exact pair
    // at J >= 0.7 appears among the candidates.
    val exact = Dedup.jaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.7).select("doc_i", "doc_j")
    assert(exact.join(candidates, Seq("doc_i", "doc_j"), "left_anti")
      .count() == 0, "prefix filtering must be lossless at J >= 0.7")
    // And the operator's final output equals the exact join's.
    val pp = Dedup.ppjoinPairs(spark, sfDir)
      .collect().map(_.toString).sorted
    val ref = Dedup.jaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.7).collect().map(_.toString).sorted
    assert(pp.sameElements(ref) && pp.nonEmpty)
  }

  test("containment join: asymmetric prefix filter is lossless at c >= 0.8") {
    val ex = Dedup.shingleIndex(spark, sfDir)
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Ground truth: every pair sharing >= 1 shingle (containment >= 0.8
    // implies a shared shingle, so this enumeration is complete), with
    // the exact directional containment rational.
    val truth = ex.as("a")
      .join(ex.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("di"), col("b.doc_id").as("dj"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("di"), col("n").as("ni")), "di")
      .join(sizes.select(col("doc_id").as("dj"), col("n").as("nj")), "dj")
      .select(
        when(col("ni") < col("nj") ||
          (col("ni") === col("nj") && col("di") < col("dj")), col("di"))
          .otherwise(col("dj")).as("doc_small"),
        when(col("ni") < col("nj") ||
          (col("ni") === col("nj") && col("di") < col("dj")), col("dj"))
          .otherwise(col("di")).as("doc_big"),
        least(col("ni"), col("nj")).as("n_small"),
        greatest(col("ni"), col("nj")).as("n_big"),
        col("shared"),
        expr("CAST(shared AS DECIMAL(38,0)) * 1000000" +
          " div least(ni, nj)").cast("long").as("containment_ppm"))
      .filter(col("containment_ppm") >= 800000L)
    val got = Dedup.containmentPairs(spark, sfDir)
    val t = truth.collect().map(_.toString).sorted
    val g = got.select("doc_small", "doc_big", "n_small", "n_big",
      "shared", "containment_ppm").collect().map(_.toString).sorted
    assert(t.nonEmpty, "test corpus must contain contained pairs")
    assert(g.sameElements(t),
      s"containment join diverges from brute force: got ${g.length}," +
        s" want ${t.length}")
    // And the prefix pass really prunes: candidates < shared-shingle pairs.
    val fullPairs = ex.as("a")
      .join(ex.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(got.count() < fullPairs)
  }

  test("all-pairs baseline refuses to run past the df cap, transparent under it") {
    // Under the default cap the guard must be invisible: the filter
    // keeps every row (assert_true -> null -> isNull true), so the
    // baseline's output is what it always was (the ppjoin test below
    // compares against it row-for-row). Over the cap it must FAIL
    // LOUDLY at runtime, not silently enumerate a quadratic candidate
    // space: cap=1 makes every shared shingle hot, so any corpus with
    // one duplicate shingle trips it.
    spark.conf.set("spark.graft.allPairsDfCap", "1")
    try {
      val e = intercept[Exception] {
        Dedup.jaccardPairs(spark, sfDir).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("ppjoinPairs")),
        s"guard failure must name the subquadratic alternative, got: $e")
    } finally spark.conf.unset("spark.graft.allPairsDfCap")
    // And under the cap the guarded baseline still answers.
    assert(Dedup.jaccardPairs(spark, sfDir).count() > 0)
  }

  test("threshold sweep rides ppjoin candidates at tau=0.5, exactly") {
    // Losslessness at the sweep's floor, BOTH candidate passes: the
    // asymmetric prefix join and the symmetric count-filtered pass the
    // sweep actually rides must each retain every exact pair at
    // J >= 0.5.
    val ex = Dedup.shingleIndex(spark, sfDir)
    val ranked = Dedup.ppjoinRanked(ex)
    val exact05 = Dedup.jaccardPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.5).select("doc_i", "doc_j")
    for ((cand, name) <- Seq(
        (Dedup.ppjoinCandidatesFromRanked(ranked, tNum = 1, tDen = 2),
          "asymmetric prefix"),
        (Dedup.countFilteredCandidates(ranked, tNum = 1, tDen = 2),
          "symmetric count-filtered")))
      assert(exact05.join(cand, Seq("doc_i", "doc_j"), "left_anti")
        .count() == 0, s"$name filtering must be lossless at J >= 0.5")
    // The sweep's five operating points equal the all-pairs-derived
    // truth (same grouping arithmetic, candidate stage swapped).
    val expected = Dedup.jaccardPairs(spark, sfDir)
      .select(col("doc_j"), col("jaccard"),
        explode(array(Seq(50, 60, 70, 80, 90).map(lit(_)): _*)).as("tau_pct"))
      .filter(col("jaccard") >= col("tau_pct").cast("double") / 100.0)
      .groupBy("tau_pct")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("doc_j").as("n_docs_dropped"))
      .collect().map(_.toString).sorted
    val got = Dedup.dedupThresholdSweep(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(got.sameElements(expected) && got.nonEmpty)
    // Plan shape: the sweep must consume the RANKED prefix index (rk
    // column from ppjoinRanked), not the raw all-pairs shingle join.
    val plan = Dedup.dedupThresholdSweep(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("rk"), "sweep must ride the ranked prefix index")
  }

  test("persisted shingle index feeds minhash + decontaminate from one parquet") {
    val out = Files.createTempDirectory("graft-shingle-ix").toFile
    val ixPath = new java.io.File(out, "ix").getAbsolutePath
    val ix = Dedup.persistedShingleIndex(spark, sfDir, ixPath)

    val minhashIx = Dedup.dedupMinhashFrom(ix)
    val deconIx = Dedup.decontaminateFrom(ix)

    // Both consumers' physical plans must read the materialized index
    // parquet — not re-shingle the raw documents table.
    for (df <- Seq(minhashIx, deconIx)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(ixPath),
        s"consumer must scan the index parquet at $ixPath")
      assert(!plan.contains("shingles("),
        "consumer must not re-run shingle extraction")
    }

    // And produce byte-identical results to the recompute-per-consumer
    // form the registered queries use.
    val minhashDirect = Dedup.dedupMinhash(spark, sfDir)
      .collect().map(_.toString).sorted
    val deconDirect = Dedup.decontaminate(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(minhashIx.collect().map(_.toString).sorted.sameElements(minhashDirect))
    assert(deconIx.collect().map(_.toString).sorted.sameElements(deconDirect))
    assert(minhashDirect.nonEmpty && deconDirect.nonEmpty)
  }

  test("winnowing: shared >=7-word run guarantees a shared fingerprint") {
    import spark.implicits._
    // K=4, W=4 → detection floor W+K-1 = 7 words. Two documents with
    // disjoint text except one verbatim 7-word run MUST share a
    // fingerprint (SIGMOD'03 Thm: both see the same window of gram
    // hashes inside the run and keep the same minimum). Exercise many
    // run placements so the property isn't an accident of position.
    val run = "the quick brown fox jumps over dogs"
    val docs = (0 until 8).flatMap { i =>
      val padA = (0 until 5 + i).map(j => s"alpha$i$j").mkString(" ")
      val padB = (0 until 9 - i).map(j => s"beta$i$j").mkString(" ")
      Seq((2L * i, s"$padA $run ${"tailx " * 3}".trim),
        (2L * i + 1, s"${"heady " * 4}$run $padB".trim))
    }.toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs)
    val shared = fp.as("a").join(fp.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" + 1 === $"b.doc_id" &&
          $"a.doc_id" % 2 === 0)
      .select($"a.doc_id").distinct().count()
    assert(shared == 8L,
      s"all 8 planted pairs must share a fingerprint, got $shared")
  }

  test("winnowing: fingerprint density is ~2/(W+1) of gram count") {
    val docs = Tables.documents(spark, sfDir)
    val grams = docs.selectExpr("explode(shingles_all(text, 4))").count()
    val fps = Dedup.winnowFingerprints(docs).count()
    // Expected density 2/(W+1) = 0.4; distinct-per-doc collapses some,
    // so allow a generous band. The point: a true SAMPLE (far below 1)
    // yet far above nothing.
    val density = fps.toDouble / grams
    assert(density > 0.15 && density < 0.6,
      s"winnow density should be ~0.4, got $density ($fps/$grams)")
  }
}
