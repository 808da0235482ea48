package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Structural checks for the LLM-data-pipeline operators whose full
  * results are rows-only at the driver gate (SURVEY.md §2.3) — plus
  * cross-operator consistency the SQL oracles can't express.
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("pipeline-ops-spec", cores = "4")

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("exact dedup partitions the corpus (sum of dup_count = n docs)") {
    val docs = Tables.documents(spark, sf).count()
    val agg = Dedup.dedupExact(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("dup_count")).collect()(0).getLong(0)
    assert(agg == docs)
  }

  test("minhash LSH finds exactly the exact-jaccard pairs here") {
    val exact = Dedup.ngramJaccardPairs(spark, sf)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dedupMinhash(spark, sf)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash is deterministic and near-dup pairs are symmetric-free") {
    val a = Dedup.simhashDocs(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Dedup.simhashDocs(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b && a.nonEmpty)
    val pairs = Dedup.simhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (i, j) => i < j })
  }

  test("minhash finds planted near-duplicates in a synthetic corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "pi")
    def doc(): Seq[String] = Seq.fill(80)(vocab(rnd.nextInt(vocab.size)))
    val originals = (0 until 20).map(i => i -> doc()).toMap
    // plant: docs 100..104 are docs 0..4 with ONE token mutated (~96% 3-gram jaccard)
    val mutated = (0 until 5).map { i =>
      val base = originals(i).toVector
      (100 + i) -> base.updated(40, "omega").toSeq
    }
    val rows = (originals ++ mutated).toSeq.map { case (id, toks) =>
      (id.toLong, toks.mkString(" "), "en", "src", toks.mkString(" ").length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-synth").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val pairs = Dedup.dedupMinhash(spark, dir)
      .select("doc_i", "doc_j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Dedup.ngramJaccardPairs(spark, dir)
      .select("doc_i", "doc_j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair is a true near-dup and LSH finds all true pairs
    assert((0 until 5).forall(i => expected.contains((i.toLong, (100 + i).toLong))))
    assert(pairs == expected)
  }

  test("LSH near-dup is a high-recall subset of brute-force near-dup") {
    val brute = Similarity.embeddingNearDup(spark, sf)
      .select("vec_i", "vec_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.annLshNearDup(spark, sf)
      .select("vec_i", "vec_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // precision 1 by construction (exact verify)
    if (brute.nonEmpty) {
      val recall = lsh.size.toDouble / brute.size
      assert(recall >= 0.8, s"LSH recall $recall too low (${lsh.size}/${brute.size})")
    }
  }

  test("LSH candidate generation is subquadratic: ≤ 12% of all pairs") {
    val n = Tables.embeddings(spark, sf).count()
    val allPairs = n * (n - 1) / 2
    val cands = Similarity.annLshCandidates(spark, sf).count()
    assert(cands <= allPairs * 0.12,
      s"LSH candidates $cands exceed 12% of $allPairs pairs — banding is not pruning")
  }

  test("LSH recall is ~1 with the same pruning on a planted high-sim corpus") {
    import spark.implicits._
    // 200 deterministic pseudo-random unit-ish vectors; 5 planted
    // near-duplicates of vectors 0..4 (small perturbation => cos ≈ 0.99).
    // This is the operating point LSH is built for; the sf tables'
    // threshold-0.45 pairs are the adversarial low end.
    def comp(i: Long, k: Int): Float = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v${i}_$k".getBytes("UTF-8"))
      (((h(0) & 0xff) << 8 | (h(1) & 0xff)) / 32768.0f) - 1.0f
    }
    val base = (0L until 200L).map(i => (i, Array.tabulate(64)(k => comp(i, k)), 0))
    val planted = (0L until 5L).map(i =>
      (200L + i, Array.tabulate(64)(k => comp(i, k) + 0.03f * comp(1000L + i, k)), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-planted").toString
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val pairs = Similarity.annLshNearDup(spark, dir)
      .select("vec_i", "vec_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all 5 planted duplicate pairs found
    assert((0L until 5L).forall(i => pairs.contains((i, 200L + i))),
      s"planted pairs missing from $pairs")
    // and candidates stay ~8% of all pairs (subquadratic on random data)
    val n = 205L
    val cands = Similarity.annLshCandidates(spark, dir).count()
    assert(cands <= n * (n - 1) / 2 * 0.12,
      s"candidates $cands not pruned on planted corpus")
  }

  test("ann top-k returns k ranked neighbours per query, self excluded") {
    val rows = Similarity.annTopK(spark, sf).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == 10)
      assert(rs.map(_.getInt(3)).sorted.toSeq == (1 to 10))
      assert(!rs.map(_.getLong(1)).contains(q))
      // ranks follow rounded-cosine descending
      val sorted = rs.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(sorted == sorted.sorted(Ordering[Double].reverse))
    }
  }

  test("IVF ANN equals brute-force top-k restricted to the probed cells") {
    import org.apache.spark.sql.functions._
    val ivf = Similarity.annIvf(spark, sf)
    val got = ivf.collect()
      .map(r => (r.getLong(0), r.getInt(4)) -> r.getLong(1)).toMap
    // probed cells per query, from the operator's own output (cells are
    // TRAINED k-means clusters since round 14, so membership comes from
    // the index's own assignments, not the label column)
    val cells = ivf.select("query_id", "cell").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val cellOf = spark.read
      .parquet(s"${Similarity.IvfIndex.path(spark, sf)}/assignments")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // expected: brute-force rank over vectors in those cells only
    val e = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, cellOf(r.getLong(0))))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      math.rint(d / math.sqrt(na) / math.sqrt(nb) * 1e6) / 1e6
    }
    for (q <- 0L until 5L if cells.contains(q)) {
      val qv = e.find(_._1 == q).get._2
      val expected = e
        .filter(v => v._1 != q && cells(q).contains(v._3))
        .map(v => (v._1, cos(qv, v._2)))
        .sortBy { case (id, c) => (-c, id) }
        .take(10).map(_._1)
      val actual = (1 to 10).flatMap(r => got.get((q, r)))
      assert(actual == expected.toSeq, s"query $q")
    }
  }

  test("multimodal plumbing: binary payloads survive with exact checksums") {
    import spark.implicits._
    val media = Multimodal.asMediaTable(spark, sf).as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == Tables.documents(spark, sf).count())
    assert(feats.forall(f => f.channels == 3 &&
      f.width == 1 + (f.payload_bytes % 64) &&
      f.height == 1 + (f.payload_bytes / 64) % 64))
    // checksum matches Spark's own md5 of the same payload
    val expected = Tables.documents(spark, sf)
      .selectExpr("doc_id", "md5(text) AS m").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feats.forall(f => expected(f.media_id) == f.checksum))
  }

  test("JL projection preserves cosine structure within distortion bounds") {
    // The point of jlProject: 16-dim projected cosines must track the
    // 64-dim originals closely enough to pre-filter ANN candidates.
    val proj = Similarity.jlProject(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    val full = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(proj.size == full.size && proj.values.forall(_.length == 16))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    // Mean |cos_proj - cos_full| over a deterministic pair sample: JL
    // with 16 dims gives distortion ~1/sqrt(16); allow 0.2 mean, and
    // require it beats a broken rank-1 projection (all-+1 signs, whose
    // projected cosine collapses to sign agreement) by at least 2x.
    val ids = full.keys.toSeq.sorted.take(30)
    val pairs = for { i <- ids; j <- ids if i < j } yield (i, j)
    val sums = full.map { case (id, v) => id -> v.sum }
    val diffs = pairs.map { case (i, j) =>
      math.abs(cos(proj(i).toArray, proj(j).toArray) - cos(full(i), full(j)))
    }
    val onesDiffs = pairs.map { case (i, j) =>
      math.abs(math.signum(sums(i)) * math.signum(sums(j)) - cos(full(i), full(j)))
    }
    val meanErr = diffs.sum / diffs.size
    val meanErrOnes = onesDiffs.sum / onesDiffs.size
    assert(meanErr < 0.2, s"mean cosine distortion $meanErr too high")
    assert(meanErr * 2 < meanErrOnes,
      s"JL ($meanErr) should beat the rank-1 sign projection ($meanErrOnes) by 2x")
  }

  test("phrase search serves from ONE pushdown-filtered scan of the token index") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files
      .createTempDirectory("graft-token-ix-spec").toFile.getAbsolutePath
    val ix = TextAnalysis.persistedTokenIndex(spark, sf, out)
    val phrase = TextAnalysis.DefaultPhrase
    val q = TextAnalysis.phraseSearchIndexed(ix, phrase)

    // Plan shape: exactly one scan, of the index parquet, with the
    // term filter pushed to it — never a re-tokenization of documents.
    val plan = q.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 index scan, got $scans:\n$plan")
    assert(plan.contains(out), "the one scan must read the index parquet")
    assert(plan.toLowerCase.contains("pushedfilters: [in(tok"),
      s"term filter must be pushed to the index scan:\n$plan")

    // Result parity with a naive per-term consecutive-position join.
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(split(lower(col("text")), "\\s+"))
        .as(Seq("pos", "tok")))
    val naive = phrase.zipWithIndex.tail
      .foldLeft(tok.filter(col("tok") === phrase.head)
        .select(col("doc_id"), col("pos"))) { case (acc, (w, i)) =>
        acc.join(tok.filter(col("tok") === w)
          .select(col("doc_id").as("d2"), col("pos").as("p2")),
          col("doc_id") === col("d2") && col("p2") === col("pos") + i)
          .select(col("doc_id"), col("pos"))
      }
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
    assert(q.collect().map(_.toString).sorted
      .sameElements(naive.collect().map(_.toString).sorted))
  }

  /** Greedy left-to-right application of one BPE merge to a symbol
    * sequence — the textbook reference semantics. */
  private def naiveApply(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toVector
  }

  /** Textbook BPE training over a word-frequency table: the k
    * (round, lhs, rhs, merged, count) merge decisions. */
  private def naiveTrain(words: Map[String, Long],
      rounds: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, c) => w.map(_.toString).toVector -> c }
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      val ((l, rr), c) = counts.toSeq
        .sortBy { case ((l, rr), c) => (-c, l, rr) }.head
      vocab = vocab.map { case (syms, cnt) => naiveApply(syms, l, rr) -> cnt }
      (r, l, rr, l + rr, c)
    }
  }

  private lazy val corpusWords: Map[String, Long] = {
    import org.apache.spark.sql.functions._
    Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
  }

  test("iterative BPE merges match a naive reference implementation") {
    val expected = naiveTrain(corpusWords, TextAnalysis.BpeRounds)
    val got = TextAnalysis.bpeMerges(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == expected,
      s"spark merges ${got.toSeq} != reference $expected")
  }

  test("BPE encode applies the learned merges exactly (per-doc counts match naive)") {
    import org.apache.spark.sql.functions._
    val merges = naiveTrain(corpusWords, TextAnalysis.BpeRounds).map(m => (m._2, m._3))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, t) =>
      val toks = t.split("\\s+", -1).filter(_.nonEmpty)
      val before = toks.map(_.length.toLong).sum
      val after = toks.map { w =>
        merges.foldLeft(w.map(_.toString).toVector) {
          case (syms, (l, r)) => naiveApply(syms, l, r)
        }.length.toLong
      }.sum
      id -> ((before, after))
    }.toMap
    val got = TextAnalysis.bpeEncode(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("PPS sample draws exactly k points, inclusion proportional to weight") {
    val rows = Sampling.ppsSample(spark, sf, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).sum == 100L,
      s"systematic PPS must draw exactly k points, got ${rows.map(_._3).sum}")
    assert(rows.forall(_._3 >= 1))
    // A doc can only be drawn multiple times if its weight spans
    // multiple strides: n_picks <= w/s + 1.
    val wtot = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.expr(
        "CAST(sum(size(split(lower(text), '\\\\s+'))) AS LONG)"))
      .collect()(0).getLong(0)
    val s = wtot / 100
    rows.foreach { case (id, w, n) =>
      assert(n <= w / s + 1, s"doc $id drawn $n times with weight $w, stride $s")
    }
  }

  test("materialized sequences are full-length except possibly the stream tail") {
    val rows = Packing.seqMaterialize(spark, sf, kSeqs = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val maxSeq = rows.map(_._1).max
    rows.foreach { case (seq, nDocs, nTok) =>
      assert(nDocs >= 1)
      if (seq < maxSeq)
        assert(nTok == 2048L, s"sequence $seq has $nTok tokens, want 2048")
      else assert(nTok >= 1 && nTok <= 2048L)
    }
    // No gaps: every sequence id up to the tail is present.
    assert(rows.map(_._1).toSeq == (0L to maxSeq).toSeq)
  }

  test("distributed global cumsum equals the single-window form on random data (property)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // Random weights incl. zeros and duplicates of the order key prefix;
    // keys made unique by the id component, several partition counts.
    val rows = (0L until 5000L).map(id => (id, rnd.nextInt(50).toLong,
      s"k${rnd.nextInt(40)}"))
    val df = rows.toDF("id", "w", "grp")
    val expected = df
      .withColumn("cum_before", coalesce(sum("w").over(
        Window.orderBy("grp", "id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "cum_before")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 5, 32)) {
      val got = Packing.withGlobalCumsum(df, "w", Seq("grp", "id"), parts)
        .select("id", "cum_before")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"cumsum mismatch at parts=$parts")
    }
  }

  test("cumsum ranks stay a permutation under pruning-divergent consumers") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Regression pin for the exchange-reuse failure q_skipping_report
    // exposed: when the rank's consumers keep DIFFERENT column sets,
    // Catalyst prunes the repartitionByRange subtrees differently, no
    // exchange is reused, and (before the ranged localCheckpoint) each
    // consumer re-sampled its own partition boundaries — offsets from
    // one partitioning against another's window, ranks no longer a
    // permutation and different on every run. The shape below keeps
    // wide payload columns alive through one branch and unions it with
    // a slim branch, then asserts exact permutation, three runs.
    val rows = (0L until 4000L).map(id =>
      (id, id % 37, s"pay$id", s"load${id % 11}"))
    val df = rows.toDF("id", "code", "pay1", "pay2")
      .withColumn("one", lit(1L))
    for (run <- 1 to 3) {
      val wide = Packing.withGlobalCumsum(df, "one", Seq("code", "id"))
        .select(expr("cum_before div 13").as("file"), col("pay1"), col("pay2"))
        .groupBy("file").agg(count(lit(1)).as("n"),
          min("pay1").as("p1"), max("pay2").as("p2"))
        .select(col("file"), col("n"))
      val slim = Packing.withGlobalCumsum(df, "one", Seq("code", "id"))
        .select(expr("cum_before div 13").as("file"))
        .groupBy("file").agg(count(lit(1)).as("n"))
      val got = wide.unionAll(slim).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // 4000 rows / 13 per file → files 0..307 full at 13, file 307
      // holds the 9-row tail; both branches must agree exactly.
      val expected = (0L until 4000L / 13L).map(f => (f, 13L)) :+
        (4000L / 13L, 4000L % 13L)
      assert(got.sorted.toSeq == (expected ++ expected).sorted.toSeq,
        s"run $run: rank corruption under divergent pruning")
    }
  }

  test("grouped distributed equidepth equals per-group ntile on random data (property)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // One dominant group (the case a PARTITION BY window dies on at
    // scale) + several small ones, heavy value ties, group sizes not
    // divisible by the bucket count.
    val rows = (0L until 4000L).map { id =>
      val g = if (rnd.nextInt(10) < 6) "big" else s"g${rnd.nextInt(7)}"
      (id, g, rnd.nextInt(40).toLong)
    }
    val df = rows.toDF("id", "grp", "v")
    val expected = df
      .withColumn("bucket", ntile(10).over(
        Window.partitionBy("grp").orderBy(col("v"), col("id"))))
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).as("n"), min("v").as("lo"), max("v").as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for (parts <- Seq(1, 5, 32)) {
      val got = graft.operators.Profiling
        .groupedEquidepthOf(df, "grp", "v", "id", 10, parts)
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == expected, s"grouped equidepth mismatch at parts=$parts")
    }
  }

  test("seq packing manifest tiles the token stream exactly") {
    val rows = Packing.seqPack(spark, sf)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
      .sortBy(_._2) // by cum_before
    // Perfect tiling: each doc starts exactly where the previous ended.
    rows.sliding(2).foreach {
      case Array((n0, c0, _, _, _, _), (_, c1, _, _, _, _)) =>
        assert(c0 + n0 == c1, s"gap or overlap at cum_before=$c1")
      case _ =>
    }
    // Closed forms are consistent.
    for ((n, c, first, off, last, nseq) <- rows) {
      assert(first == c / 2048 && off == c % 2048)
      assert(last == (c + n - 1) / 2048 && nseq == last - first + 1)
    }
    assert(rows.head._2 == 0L)
  }

  test("served retrieval reads only the persisted IVF index, result = recompute form") {
    val direct = Similarity.retrieval(spark, sf)
      .collect().map(_.toString).sorted
    val served = Similarity.retrievalServed(spark, sf)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("graft-ivf-ix"),
      "served plan must scan the persisted index parquet")
    assert(!plan.contains("embeddings.parquet"),
      s"served plan must not re-scan the embeddings table:\n$plan")
    assert(served.collect().map(_.toString).sorted.sameElements(direct))
  }

  test("triangle counting: planted K4 + pendant edge, each triangle once") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3), duplicate and
    // reversed edges thrown in, plus a pendant edge 5-6 (none).
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 3L), (5L, 6L))
      .toDF("src", "dst")
    val got = GraphOps.triangleCountOf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("walk counts run as a NATIVE recursive CTE and match the edge table at len 1") {
    import org.apache.spark.sql.functions._
    val df = GraphOps.walkCounts(spark, sf)
    // Plan guard: the recursion must execute as Spark's UnionLoop, not
    // get silently rewritten into something else.
    assert(df.queryExecution.executedPlan.toString.contains("UnionLoop"),
      "expected a UnionLoopExec in the physical plan")
    val lvl1 = df.filter(col("len") === 1)
      .agg(sum("n_walks"), sum("weighted_walks")).collect()(0)
    val out0 = GraphOps.tradeEdges(spark, sf).filter(col("src") === 0)
      .agg(count(lit(1)), sum("w")).collect()(0)
    // Length-1 walks from node 0 are exactly its out-edges; their
    // weight products are the edge weights themselves.
    assert(lvl1.getLong(0) == out0.getLong(0))
    assert(lvl1.getLong(1) == out0.getLong(1))
  }

  test("Apriori triples: every reported triple's sub-pairs are all frequent") {
    import org.apache.spark.sql.functions._
    val tri = Analytics.itemTriples(spark, sf).collect()
    val pairSup = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .as("a").join(
        Tables.lineitem(spark, sf)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct().as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p"), col("b.p")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(tri.nonEmpty)
    tri.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      Seq((a, b), (a, c), (b, c)).foreach { p =>
        assert(pairSup.getOrElse(p, 0L) >= Analytics.TripleMinSup,
          s"triple ($a,$b,$c) has an infrequent sub-pair $p")
      }
    }
  }

  test("phrase search handles repeated words in the phrase") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a"), // "a b a" at 0 and 2
      (2L, "a b c a b"), // no "a b a"
      (3L, "b a b a b") // "a b a" at 1
    ).toDF("doc_id", "text")
    val ix = docs.select(col("doc_id"),
      posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val got = TextAnalysis.phraseSearchIndexed(ix, Seq("a", "b", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 0), (3L, 1L, 1)))
  }

  test("media pHash banding finds EXACTLY the hamming≤3 pairs (recall 1)") {
    // Independent Scala replay of the aHash (strided codepoint samples,
    // mean threshold, 48-bit pack) → brute-force all-pairs reference;
    // the banded join must match it exactly — pigeonhole recall is 1,
    // and the verify filter kills every coincidental bucket-mate.
    val P = 48
    def ahash(text: String): Long = {
      // CODEPOINT-addressed like Spark's length()/substr()/ascii() (a
      // charAt replay would diverge on non-BMP text).
      val cps = text.codePoints().toArray
      val n = cps.length.toLong
      val px = (0 until P).map(i => cps((i * n / P).toInt))
      val s = px.sum
      (0 until P).map(i => if (px(i) * P > s) 1L << i else 0L).sum
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val assets = docs ++ docs.collect { case (id, t) if id % 11 == 0 =>
      // Disjoint re-encode namespace: mirrors mediaPhashPairs' -id-1.
      (-id - 1L) -> (t.take(1).toUpperCase + t.drop(1))
    }
    val hs = assets.map { case (id, t) => id -> ahash(t) }
    val expected = (for {
      (i, hi) <- hs; (j, hj) <- hs if i < j
      d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
    } yield (i, j, d)).toSet
    val rowsGot = Multimodal.mediaPhashPairs(spark, sf).collect()
    val got = rowsGot.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    // No group at this SF is near the cap: the in-band flag must be
    // uniformly false (the exact all-pairs shape the oracle hashes).
    assert(rowsGot.forall(!_.getAs[Boolean]("capped")))
    assert(expected.nonEmpty) // planted re-encodes really land in radius
    // Near-dup ≠ exact dup: at least one found pair differs in bytes.
    assert(expected.exists(_._3 > 0))
  }

  test("media pHash degenerate corpus: 10k identical payloads emit " +
    "LINEAR output, not 50M pairs (r16 verdict №5)") {
    // A pathological 100 TB corpus of one repeated asset hashes an
    // entire population to ONE ahash; the hamming-0 pair output itself
    // is then the Σ group² blowup. Above PhashZeroGroupCap the group
    // emits the min-id STAR expansion (group_size−1 rows, identical
    // transitive closure) instead — plant exactly that corpus and pin
    // the bound.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 10000
    val text = "the same payload re-uploaded ten thousand times over " +
      "and over by a misconfigured mirror of the corpus staging bucket"
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phash-degenerate").toFile.getAbsolutePath
    spark.range(n.toLong)
      .select(col("id").as("doc_id"), lit(text).as("text"),
        lit("en").as("lang"), lit("mirror").as("source"),
        lit(text.length.toLong).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // Population sizes: all n docs share one hash; every 11th doc also
    // plants a case-flipped re-encode, all sharing a second hash
    // (910 — under the default 1024 cap, so exercise the cap at 64:
    // BOTH populations must then star-expand).
    val nReenc = (0 until n).count(_ % 11 == 0)
    val pairs =
      Multimodal.mediaPhashPairs(spark, dir, zeroGroupCap = 64).collect()
    // Bound: star expansion is (size−1) rows per oversized group, plus
    // at most one representative pair per near (1..3-hamming) hash
    // pair. Quadratic would be ~50M; assert comfortably linear.
    assert(pairs.length >= (n - 1) + (nReenc - 1),
      s"clusters must stay connected: got ${pairs.length} rows")
    assert(pairs.length <= n + nReenc + 4,
      s"degenerate corpus output must be linear, got ${pairs.length} rows")
    // The star expansion preserves the transitive closure: every asset
    // id appears in some pair, so connected components re-derive the
    // full duplicate populations.
    val touched = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert((0 until n).forall(i => touched.contains(i.toLong)))
    // No-silent-caps (r17 advice): every emitted row from an oversized
    // population carries capped=true IN BAND — a pair-counting consumer
    // sees the star rewrite engaged instead of silently under-counting.
    assert(pairs.forall(_.getAs[Boolean]("capped")),
      "rows from capped populations must flag capped=true")
    // Group-level triage face: one row per population, sizes exact,
    // samples bounded.
    val groups = Multimodal.mediaPhashZeroGroups(spark, dir).collect()
    assert(groups.length == 2)
    assert(groups.map(_.getAs[Int]("group_size")).sorted.toSeq ==
      Seq(nReenc, n))
    assert(groups.forall(_.getAs[scala.collection.Seq[Long]]("sample_ids")
      .size <= 8))
  }

  test("HRW reshard is monotone and moves ~1−W/W′; mod-hash moves ~2/3") {
    val m = Packing.reshardMoves(spark, sf).collect()
    def rows(scheme: String) = m.filter(_.getAs[String]("scheme") == scheme)
    // Domain sanity: old owners < 8, new owners < 12, both schemes.
    m.foreach { r =>
      assert(r.getAs[Long]("old_shard") < 8 && r.getAs[Long]("new_shard") < 12)
    }
    // HRW monotonicity (the property that makes it a reshard PLAN, not
    // a reshuffle): a doc that moves can only move to an ADDED shard —
    // zero matrix mass between two RETAINED shards.
    rows("hrw").filter(r =>
      r.getAs[Long]("old_shard") != r.getAs[Long]("new_shard")).foreach { r =>
      assert(r.getAs[Long]("new_shard") >= 8,
        s"HRW moved ${r.getAs[Long]("n_docs")} docs between retained " +
          s"shards ${r.getAs[Long]("old_shard")}→${r.getAs[Long]("new_shard")}")
    }
    def movedFrac(scheme: String): Double = {
      val rs = rows(scheme)
      val total = rs.map(_.getAs[Long]("n_docs")).sum.toDouble
      rs.filter(r => r.getAs[Long]("old_shard") != r.getAs[Long]("new_shard"))
        .map(_.getAs[Long]("n_docs")).sum / total
    }
    // Expected moved fractions: HRW 1 − 8/12 = 1/3 (the minimum for
    // balanced placement), mod-hash 2/3 (only residues equal mod
    // lcm(8,12)=24 below 8 stay) — wide binomial bands at 500 docs.
    val hrw = movedFrac("hrw"); val mod = movedFrac("mod")
    assert(hrw > 0.25 && hrw < 0.42, s"HRW moved fraction $hrw")
    assert(mod > 0.55 && mod < 0.78, s"mod moved fraction $mod")
    // All 12 grown shards own something (balance at n=500).
    assert(rows("hrw").map(_.getAs[Long]("new_shard")).distinct.length == 12)
    // Degenerate 1-shard pool analyzes and places everything on shard 0
    // (greatest() rejects one argument — the w=1 path is special-cased).
    val one = Packing.reshardMoves(spark, sf, oldW = 1, newW = 2)
      .filter(org.apache.spark.sql.functions.col("scheme") === "hrw").collect()
    assert(one.nonEmpty && one.forall(_.getAs[Long]("old_shard") == 0L))
  }

  test("mix allocation: exact apportionment sums to the budget") {
    // Hamilton's method invariants: Σ alloc = budget exactly, every
    // source within 1 unit of its real-valued proportional share.
    val budget = 12345L
    val rows = operators.Sampling.mixAllocation(spark, sf, budget).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum == budget)
    val totalToks = rows.map(_.getAs[Long]("n_tokens")).sum
    rows.foreach { r =>
      val ideal = budget.toDouble * r.getAs[Long]("n_tokens") / totalToks
      val alloc = r.getAs[Long]("alloc")
      assert(math.abs(alloc - ideal) < 1.0,
        s"${r.getAs[String]("source")}: alloc $alloc vs ideal $ideal")
    }
  }
}
