package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ranking

/** Semantic invariants of the ranking/scoring layer that the DuckDB
  * hash oracle can't express: RRF internal consistency, attribution
  * ordering, surprisal lower bound, DSIR discrimination.
  */
class RankingSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("ranking-spec", cores = "4")
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("RRF fusion is internally consistent with its arm ranks") {
    val rows = Ranking.hybridRrf(spark, sf).collect()
    assert(rows.length == 10)
    // fused_rank is 1..10 over distinct docs
    assert(rows.map(_.getAs[Int]("fused_rank")).sorted.toSeq == (1 to 10))
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 10)
    // rrf_ppb re-derives from the arm ranks, missing arm = 0
    for (r <- rows) {
      def part(c: String): Long = Option(r.getAs[Integer](c))
        .map(rk => 1000000000L / (60L + rk)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_ppb") == part("lex_rank") + part("vec_rank"),
        s"rrf_ppb mismatch in $r")
    }
    // descending by (rrf_ppb, doc_id asc) — the declared tiebreak
    val sorted = rows.sortBy(r =>
      (-r.getAs[Long]("rrf_ppb"), r.getAs[Long]("doc_id")))
    assert(sorted.map(_.getAs[Int]("fused_rank")).toSeq == (1 to 10))
    // a doc ranked #1 in BOTH arms would score 2×10⁹/61; nobody exceeds it
    assert(rows.forall(_.getAs[Long]("rrf_ppb") <= 2 * (1000000000L / 61)))
  }

  test("last-touch attribution: source strictly precedes its purchase, never a purchase itself") {
    val rows = Ranking.lastTouchAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    val attributed = rows.filter(_.getAs[java.lang.Long]("src_event_id") != null)
    assert(attributed.nonEmpty, "no purchase had a prior event at all")
    for (r <- attributed) {
      assert(r.getAs[String]("src_event_type") != "purchase")
      assert(r.getAs[Long]("gap_ns") >= 0L,
        s"source event after its purchase: $r")
    }
    // purchases keyed uniquely
    assert(rows.map(_.getAs[Long]("purchase_id")).distinct.length == rows.length)
  }

  test("bigram surprisal ≥ 10⁶ (p̂(y|x) ≤ 1) and n_bigrams = n_tokens − 1") {
    val surp = Ranking.bigramSurprisal(spark, sf)
    assert(surp.filter(col("surprisal_micro") < 1000000L).count() == 0)
    // shingles_all emits exactly len−1 bigrams for len ≥ 2 tokens
    val joined = surp.join(
      operators.TextAnalysis.queries("q_token_counts")(spark, sf)
        .select(col("doc_id"), col("ws_tokens")), "doc_id")
    assert(joined.filter(col("n_bigrams") =!= col("ws_tokens") - 1)
      .count() == 0)
  }

  test("DSIR weights separate the target slice: mean(en) > mean(zh)") {
    val byLang = Ranking.dsirWeights(spark, sf)
      .groupBy("lang").agg(avg(col("dsir_micro")).as("m"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("m"))
      .toMap
    assert(byLang("en") > byLang("zh"),
      s"importance weights do not favor the target slice: $byLang")
    // and en sits above every non-target language, not just zh
    for ((l, m) <- byLang if l != "en")
      assert(byLang("en") > m, s"en (${byLang("en")}) ≤ $l ($m)")
  }

  test("Kneser-Ney masses form an exact probability distribution per context") {
    // The operator reports top-k rows; the DISTRIBUTION property lives
    // in its formula. Recompute with BigInt from the same persisted
    // bigram index and assert Σ_y p_KN(y|x) == 1 EXACTLY as a rational
    // for every left context x: observed continuations contribute
    // (4c−3)·N₊₊ + 3·N1₊(x)·cont(y), unobserved ones 3·N1₊(x)·cont(y),
    // denominator 4·c₁(x)·N₊₊ — and Σ_y cont(y) = N₊₊ makes it close.
    val bi = spark.read.parquet(s"${Ranking.BigramIndex.path(spark, sf)}/bigram")
      .select(split(col("xy"), " ").getItem(0).as("x"),
        split(col("xy"), " ").getItem(1).as("y"), col("cxy"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nTypes = BigInt(bi.length)
    val contY = bi.groupBy(_._2).map { case (y, g) => y -> BigInt(g.length) }
    val sumCont = contY.values.sum
    assert(sumCont == nTypes, "Σ_y cont(y) must equal the bigram type count")
    val byX = bi.groupBy(_._1)
    for ((x, g) <- byX.take(50)) {
      val c1x = BigInt(g.map(_._3).sum)
      val n1x = BigInt(g.length)
      val observedY = g.map(_._2).toSet
      val den = 4 * c1x * nTypes
      val obsNum = g.map { case (_, y, c) =>
        (4 * BigInt(c) - 3) * nTypes + 3 * n1x * contY(y)
      }.sum
      val unobsNum = contY.collect {
        case (y, cy) if !observedY(y) => 3 * n1x * cy
      }.sum
      assert(obsNum + unobsNum == den,
        s"KN masses for context '$x' sum to ${obsNum + unobsNum}/$den, not 1")
    }
    // And the reported top-k rows replay the same rational exactly.
    val rows = Ranking.kneserNey(spark, sf).collect()
    assert(rows.length == 20)
    for (r <- rows) {
      val Array(x, y) = r.getAs[String]("xy").split(" ")
      val c1x = BigInt(byX(x).map(_._3).sum)
      val n1x = BigInt(byX(x).length)
      val want = ((4 * BigInt(r.getAs[Long]("cxy")) - 3) * nTypes
        + 3 * n1x * contY(y)) * 1000000 / (4 * c1x * nTypes)
      assert(BigInt(r.getAs[Long]("pkn_micro")) == want,
        s"pkn mismatch for ${r.getAs[String]("xy")}")
      assert(r.getAs[Long]("pkn_micro") <= 1000000L)
    }
  }
}
