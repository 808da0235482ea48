package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The index staleness contract: every build-once corpus artifact
  * ([[Indexes.Artifact]]) keys its per-JVM cache on `dir#fingerprint`,
  * not the bare path. Same content under one path → one build, served
  * twice. Changed content under the SAME path (the daily-crawl shape
  * q_ivf_update / q_incremental_minhash exist for) → a REBUILD, never
  * a silently-served stale index. Two dirs with identical listings
  * don't cross-serve (the key carries the dir).
  */
class IndexFreshnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("index-freshness-spec", cores = "4")

  override def afterAll(): Unit = spark.stop()

  private def mkCorpus(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft-fresh-corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      d.resolve("documents.parquet"))
    d
  }

  private def swapContent(d: java.nio.file.Path): Unit = {
    // Same path, different corpus: the sf0.01 documents table (same
    // schema, different size → different fingerprint even on coarse
    // mtime clocks).
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.01/documents.parquet"),
      d.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("fingerprint: stable on same content, moves on changed content") {
    val d = mkCorpus()
    val fp1 = Indexes.fingerprint(d.toString)
    val fp2 = Indexes.fingerprint(d.toString)
    assert(fp1 == fp2, "fingerprint must be deterministic on unchanged dir")
    swapContent(d)
    val fp3 = Indexes.fingerprint(d.toString)
    assert(fp3 != fp1, "fingerprint must move when corpus content changes")
    assert(Indexes.fingerprint("/nonexistent/nowhere") == "absent")
  }

  test("vocab index: serve-on-same, rebuild-on-change, old entry dropped") {
    val d = mkCorpus()
    val dir = d.toString
    val p1 = operators.TextAnalysis.VocabIndex.path(spark, dir)
    val p2 = operators.TextAnalysis.VocabIndex.path(spark, dir)
    assert(p1 == p2, "unchanged corpus must be served the cached index")
    // Occurrence total, not distinct-word count: the synthetic corpora
    // share one small vocabulary, so only the counts distinguish them.
    def occurrences(p: String): Long = spark.read.parquet(p)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
    val n1 = occurrences(p1)

    swapContent(d)
    val p3 = operators.TextAnalysis.VocabIndex.path(spark, dir)
    assert(p3 != p1,
      "changed corpus under the same path must REBUILD, not serve stale")
    val n3 = occurrences(p3)
    assert(n3 != n1,
      s"rebuilt index must reflect the new corpus (old $n1, new $n3)")
    // Serve-on-same again for the NEW content.
    assert(operators.TextAnalysis.VocabIndex.path(spark, dir) == p3)
  }

  test("an artifact drops the superseded entry and deletes its tree") {
    val ix = operators.TextAnalysis.VocabIndex
    val d = mkCorpus()
    val dir = d.toString
    val (b0, e0) = (ix.builds, ix.entries)
    val p1 = ix.path(spark, dir)
    assert(ix.path(spark, dir) == p1 && ix.builds == b0 + 1)
    swapContent(d)
    val p2 = ix.path(spark, dir)
    assert(p2 != p1 && ix.builds == b0 + 2)
    assert(ix.entries == e0 + 1,
      "superseded fingerprint entry must be dropped")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1)),
      s"superseded artifact tree must be deleted: $p1")
    assert(ix.path(spark, dir) == p2 && ix.builds == b0 + 2)
  }

  test("two distinct dirs never cross-serve, even with equal listings") {
    val ix = operators.TextAnalysis.VocabIndex
    val d1 = mkCorpus()
    val d2 = java.nio.file.Files.createTempDirectory("graft-fresh-corpus")
    java.nio.file.Files.copy(
      d1.resolve("documents.parquet"), d2.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    val (b0, e0) = (ix.builds, ix.entries)
    val a = ix.path(spark, d1.toString)
    val b = ix.path(spark, d2.toString)
    assert(a != b && ix.builds == b0 + 2 && ix.entries == e0 + 2)
  }

  test("MV catalog: changed corpus retires the superseded view entry") {
    import graft.plans.MvCatalog
    val d = mkCorpus()
    val dir = d.toString
    // orders.parquet needed by the MV defining query.
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet"),
      d.resolve("orders.parquet"))
    try {
      operators.OlapQueries.mvRewrite(spark, dir)
      val k1 = s"quarterly_revenue:${Indexes.cacheKey(dir)}"
      assert(MvCatalog.contains(k1), "fingerprinted entry must be live")
      // Change the FACT table under the same path.
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.01/orders.parquet"),
        d.resolve("orders.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val second = operators.OlapQueries.mvRewrite(spark, dir)
      val k2 = s"quarterly_revenue:${Indexes.cacheKey(dir)}"
      assert(k2 != k1 && MvCatalog.contains(k2) && !MvCatalog.contains(k1),
        "superseded view entry must be deregistered on corpus change")
      // r15: the superseded entry retires BEFORE the view REBUILD and
      // the canon derivation (with the stale entry live, the
      // materialization write itself was rewritten to scan the OLD view
      // — silently copying the old corpus's aggregates into the "new"
      // one) — the second restatement must be answered from the REBUILT
      // view carrying the new corpus's VALUES, not just its shape
      // (distinct-quarter COUNTS are scale-factor-invariant here, so
      // the assertion is on a total that scales with the corpus).
      val plan2 = second.queryExecution.executedPlan.toString
      assert(plan2.contains("graft-mv-quarterly") &&
        !plan2.contains("orders.parquet"),
        s"post-change restatement must be served from the new view:\n$plan2")
      val gotOrders = second.agg(
        org.apache.spark.sql.functions.sum("n_orders")).head.getLong(0)
      val wantOrders = spark.read.parquet(dir + "/orders.parquet").count()
      assert(gotOrders == wantOrders,
        s"rebuilt view must reflect the NEW corpus's values: view total " +
          s"$gotOrders vs new fact table $wantOrders")
    } finally {
      MvCatalog.deregisterPrefix(s"quarterly_revenue:$dir")
      MvCatalog.deregisterPrefix(s"quarterly_revenue_rollup:$dir")
      spark.experimental.extraOptimizations = spark.experimental
        .extraOptimizations.filterNot(_ == graft.plans.MvRewrite)
    }
  }
}
