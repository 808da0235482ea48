package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{OptimizerBarrier, Shingles, ShinglesAll}

/** Deduplication operators for LLM-training-data pipelines (SURVEY.md
  * §2.3 rows 31-34): exact hash dedup, n-gram Jaccard, MinHash+LSH,
  * SimHash.
  *
  * Scale design: nothing here is O(n²) over the corpus.
  * - exact dedup: one hash aggregate on a 128-bit digest;
  * - n-gram Jaccard: pairs are generated by a shingle-equality join, so
  *   only documents sharing at least one shingle ever meet;
  * - MinHash+LSH: candidate pairs come from banded signature buckets
  *   (b=16, r=2 over 32 permutations — P[miss] ≈ (1-J²)^16, ~8e-8 at
  *   J=0.8), then exact-verify only those candidates;
  * - SimHash: per-doc 48-bit signature; near-dup pairs via 4-chunk
  *   pigeonhole banding + popcount verify.
  */
object Dedup {

  private val MersennishPrime = 4294967311L // first prime > 2^32
  private val NumPerms = 32

  /** Deterministic permutation coefficients (odd multipliers < 2^20 keep
    * h*A + B < 2^53, exact in both engines' int64). */
  private def permA(i: Int): Long = 524287L + 7919L * (2 * i + 1)
  private def permB(i: Int): Long = 104729L + 104623L * i

  /** Lowercased whitespace tokens. */
  private val toks: Column = split(lower(col("text")), "\\s+")

  /** (doc_id, shingle) — the distinct-shingle inverted index, the shared
    * substrate of every n-gram dedup operator here. One shuffle-free
    * codegen'd projection: the custom `Shingles` expression extracts the
    * per-doc distinct 3-gram set in a single pass over the text (see its
    * Scaladoc for why not HOF lambdas / not a window), and `explode`
    * streams it out as rows.
    */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(Shingles(col("text"), 3)).as("shingle"))
  }

  /** Write the (doc_id, shingle) inverted index to parquet once and
    * hand back the on-disk copy — the multi-consumer 100 TB shape: at
    * cluster scale every dedup/decontamination pass re-reading raw text
    * and re-shingling is the dominant cost, so a corpus pipeline
    * materializes the index and each consumer (minhash, decontaminate,
    * Jaccard verify, ...) runs off ONE columnar scan of it
    * (`DedupSpec` asserts the consumers' plans scan this parquet).
    */
  private[graft] def persistedShingleIndex(
      spark: SparkSession, dir: String, out: String): DataFrame = {
    shingleIndex(spark, dir).write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  /** doc_id → number of distinct shingles. */
  private def shingleSizes(ex: DataFrame): DataFrame =
    ex.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))

  /** Exact Jaccard for the given candidate pairs (doc_i, doc_j), via a
    * relational intersection over the inverted index — no per-row array
    * ops, scales with |candidate pairs| × avg shingles, not n². */
  private def jaccardVerify(candidates: DataFrame, ex: DataFrame): DataFrame = {
    val sizes = shingleSizes(ex)
    val shared = candidates
      .join(ex.as("si"), col("doc_i") === col("si.doc_id"))
      .join(ex.as("sj"),
        col("doc_j") === col("sj.doc_id") &&
          col("si.shingle") === col("sj.shingle"))
      .groupBy("doc_i", "doc_j")
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.as("ni"), col("doc_i") === col("ni.doc_id"))
      .join(sizes.as("nj"), col("doc_j") === col("nj.doc_id"))
      .select(col("doc_i"), col("doc_j"), col("shared"),
        (col("shared").cast("double") /
          (col("ni.n_shingles") + col("nj.n_shingles") - col("shared")))
          .as("jaccard"))
  }

  /** Document-frequency cap for the DECLARED-BASELINE all-pairs join
    * ([[jaccardPairs]]): candidate volume is Σ df² over shingle doc
    * frequencies, so one boilerplate shingle shared by 10⁶ docs is
    * 10¹² candidate rows. The production paths (PPJoin prefix filter,
    * MinHash banding, SimHash pigeonhole) never take this join; the
    * baseline exists to verify them at test SFs, where max df ≈ 25
    * (sf0.1). The guard makes the baseline REFUSE to go quadratic
    * instead of silently melting a cluster if someone lifts it onto a
    * real corpus: any shingle with df above the cap raises at runtime
    * (`assert_true` inside the plan — lazy, per-row, codegen'd), with
    * the override `spark.graft.allPairsDfCap` for a deliberate run.
    * `DedupScaleSpec` pins both faces (fires on a planted hot shingle,
    * transparent otherwise). */
  private[graft] val AllPairsDfCapDefault = 10000L

  private def allPairsDfGuard(spark: SparkSession, ex: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = spark.conf.getOption("spark.graft.allPairsDfCap")
      .map(_.toLong).getOrElse(AllPairsDfCapDefault)
    ex.withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(assert_true(col("df") <= lit(cap),
        concat(lit("graft all-pairs baseline: shingle '"), col("shingle"),
          lit(s"' has df > $cap — Σdf² candidate blowup; use ppjoinPairs/" +
            "dedupMinhash (subquadratic) or raise spark.graft.allPairsDfCap"))
      ).isNull)
      .drop("df")
  }

  /** Exact 3-gram Jaccard for all pairs sharing ≥1 shingle: the shared
    * count falls directly out of the shingle-equality self-join, one
    * pass over the index. Baseline-only — df-guarded, see
    * [[allPairsDfGuard]]. */
  private[graft] def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val ex = allPairsDfGuard(spark, shingleIndex(spark, dir))
    val sizes = shingleSizes(ex)
    val shared = ex.as("a")
      .join(ex.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.as("ni"), col("doc_i") === col("ni.doc_id"))
      .join(sizes.as("nj"), col("doc_j") === col("nj.doc_id"))
      .select(col("doc_i"), col("doc_j"), col("shared"),
        (col("shared").cast("double") /
          (col("ni.n_shingles") + col("nj.n_shingles") - col("shared")))
          .as("jaccard"))
  }

  /** Exact dedup: md5 over normalized text, keep the smallest doc_id per
    * digest (hash groupBy — one shuffle on the digest). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** Incremental dedup: the daily-crawl shape — an arriving batch
    * (deterministically, every doc with `doc_id % 5 == 4`) checked
    * against the already-ingested corpus (the other 4/5). Each batch
    * doc gets a verdict: `dup_of_index` (content hash already
    * ingested), `dup_in_batch` (an earlier batch doc has the same
    * hash), or `new`. At 100 TB the index side is the persisted digest
    * set of the historical corpus (or a bloom filter in front of it) —
    * the batch, typically ≪ index, joins against it the same way
    * [[decontaminate]] joins the benchmark set; cost is one shuffle of
    * the BATCH plus one semi-join probe of the index, never a re-scan
    * of history per pair. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val canon = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("content_hash"))
    val batch = canon.filter(col("doc_id") % 5 === 4)
    val indexHashes = canon.filter(col("doc_id") % 5 =!= 4)
      .select("content_hash").distinct()
    val firstInBatch = batch.groupBy("content_hash")
      .agg(min("doc_id").as("first_doc"))
    batch
      .join(indexHashes.withColumn("in_index", lit(true)),
        Seq("content_hash"), "left")
      .join(firstInBatch, Seq("content_hash"))
      .select(col("doc_id"), col("content_hash"),
        when(col("in_index"), "dup_of_index")
          .when(col("doc_id") > col("first_doc"), "dup_in_batch")
          .otherwise("new").as("verdict"))
  }

  /** BLOOM-FILTER pre-probe for incremental dedup — the declared scale
    * refinement of [[incrementalDedup]] (PLANS.md: "the index at scale
    * is a persisted digest parquet (or bloom pre-filter)"). The history
    * side collapses to a 512-word (2 KB) mergeable bitmap: each distinct
    * history content hash sets d = 3 bit positions derived from
    * md5(hash ∥ '#i') — deterministic, so the filter AND every false
    * positive it produces are bit-reproducible and the DuckDB oracle
    * replays the exact same bitmap. A batch document whose 3 bits are
    * not all set is DEFINITIVELY new (Bloom filters have no false
    * negatives) and never touches the exact index; only the passers —
    * true dups plus the quantified false-positive tail — pay the join.
    *
    * Output: per batch doc, `bloom_pass` and the exact verdict
    * (`dup_of_index` / `new`), so `bloom_pass ∧ verdict = 'new'`
    * measures the realized FP rate at this load factor.
    *
    * Scale shape: the bitmap is a `bit_or` aggregate — associative,
    * commutative, shard-mergeable like the HLL/CMS/theta sketch family;
    * the probe joins a broadcast 512-row word table, then ONE exact
    * join over the bloom-positive subset. History cost is one aggregate
    * pass; at 100 TB the bitmap (sized to the corpus, e.g. 2⁴⁰ bits =
    * 128 GB split across word-range shards) is the persisted artifact
    * a daily crawl probes without ever re-scanning history text. */
  def bloomProbe(spark: SparkSession, dir: String): DataFrame = {
    val m = 16384 // bits; 512 32-bit words (shifts stay under the sign bit)
    def positions(c: String) = explode(array((0 until 3).map(i =>
      expr(s"CAST(conv(substr(md5(concat($c, '#$i')), 1, 12), 16, 10)" +
        s" AS BIGINT) % $m")): _*))
    val canon = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("content_hash"))
    val batch = canon.filter(col("doc_id") % 5 === 4)
    val idx = canon.filter(col("doc_id") % 5 =!= 4)
      .select("content_hash").distinct()
    val bloom = idx
      .select(positions("content_hash").as("pos"))
      .select(expr("pos div 32").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .groupBy("w").agg(expr("bit_or(mask)").as("bw"))
    val probed = batch
      .select(col("doc_id"), col("content_hash"),
        positions("content_hash").as("pos"))
      .select(col("doc_id"), col("content_hash"),
        expr("pos div 32").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .join(broadcast(bloom), Seq("w"), "left")
      .groupBy("doc_id", "content_hash")
      .agg(count(when(expr("(bw & mask) = mask"), 1)).as("nset"))
      // Materialized once: BOTH union legs (passers, rejected) consume
      // it — without the cut each leg re-derives the batch scan + bloom
      // probe (plan showed the corpus scanned twice more than needed).
      // Batch-sized (|batch| rows of 3 narrow cols), so the checkpoint
      // is cheap and the idx join's broadcast choice is unaffected.
      .localCheckpoint()
    val passers = probed.filter(col("nset") === 3)
      .join(idx.withColumn("in_index", lit(true)), Seq("content_hash"), "left")
      .select(col("doc_id"), lit(true).as("bloom_pass"),
        when(col("in_index"), "dup_of_index").otherwise("new").as("verdict"))
    val rejected = probed.filter(col("nset") =!= 3)
      .select(col("doc_id"), lit(false).as("bloom_pass"),
        lit("new").as("verdict"))
    passers.unionAll(rejected)
  }

  /** N-gram Jaccard near-dup pairs (threshold 0.8): the shingle-join
    * candidate generation means cost scales with shared-shingle pairs,
    * not n². */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir).filter(col("jaccard") >= 0.8)

  /** EXACT similarity join at Jaccard ≥ 0.7 via prefix filtering — the
    * AllPairs/PPJoin family (Xiao, Wang, Lin & Yu, "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW'08; also Bayardo, Ma &
    * Srikant, WWW'07): unlike MinHash this is LOSSLESS, so the
    * brute-force oracle is matched exactly, yet candidates never come
    * from the full shingle self-join.
    *
    * Principle: fix a global total order on shingles (here ascending
    * document frequency, shingle text as tiebreak — rarest first). If
    * J(x,y) ≥ t then |x∩y| ≥ ⌈t·max(|x|,|y|)⌉, and two sets with
    * overlap ≥ α must collide within their first |·|−α+1 tokens of the
    * global order. So each doc exposes only its PREFIX of
    * n − ⌈t·n⌉ + 1 rarest shingles to the candidate join (30% of each
    * doc at t=0.7, and rare-by-construction, so bucket sizes — hence
    * candidate pairs — collapse versus joining the whole index).
    * A size filter (t·|x| ≤ |y|, cross-multiplied in exact ints)
    * prunes length-mismatched pairs in the same join. Survivors get the
    * usual relational exact verify over the full index.
    *
    * Scale shape: one shingle-keyed count window (df) + one doc-keyed
    * window to rank prefixes — a single pass over the index, then a
    * candidate join whose input is ~(1−t) of the index and skewed
    * toward unique shingles, then
    * verify-on-candidates. Everything is an equi-join/aggregate — no
    * signatures to tune, no recall bound to argue: this is the exact
    * subquadratic path, the correctness anchor MinHash/SimHash trade
    * against. `DedupScaleSpec` asserts the prefix join feeds fewer
    * pairs than the full-index join would. */
  /** Build-once per-corpus df-RANKED shingle index — the artifact BOTH
    * prefix-filter consumers (ppjoinPairs at τ=0.7, the threshold
    * sweep at τ=0.5) serve from. Unlike the single-consumer
    * operators (which deliberately recompute their index — see
    * dedupMinhash), PPJoin reads the index from many plan branches
    * (both self-join sides, the verify's sets), and it is exactly the
    * (doc_id, shingle, rk, n_shingles) table a 100 TB corpus pipeline
    * materializes next to the data: the ranking windows run once per
    * ingest, every similarity-join threshold reads the same artifact. */
  private[graft] val RankedIndex = graft.Indexes.Artifact("ppjoin-ranked") {
    (spark, dir, out) =>
      ppjoinRanked(shingleIndex(spark, dir)).write.mode("overwrite").parquet(out)
  }

  /** The verify stage's companion artifact: per-doc SORTED shingle
    * arrays (the document-signature layout a 100 TB run stores next to
    * the corpus — see [[jaccardVerifyFromSets]]), derived from the ranked
    * index with one groupBy at build time so no consumer re-shuffles
    * the index into arrays per query. */
  private[graft] val DocSets = graft.Indexes.Artifact("doc-sets") {
    (spark, dir, out) =>
      spark.read.parquet(RankedIndex.path(spark, dir))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("shingle"))).as("sh"),
          count(lit(1)).as("n_shingles"))
        .write.mode("overwrite").parquet(out)
  }

  def ppjoinPairs(spark: SparkSession, dir: String): DataFrame = {
    // Candidate pass: the symmetric count-filtered join — at τ=0.7 on
    // sf0.1 it emits 620 candidates where the asymmetric prefix join
    // emits 33k at the same stage cost (the collision-count bound is
    // what the asymmetric trick can't have: its index prefix makes the
    // bound vacuous). The asymmetric pass stays spec-pinned as the
    // pruning baseline (`DedupScaleSpec`).
    val ranked = spark.read.parquet(RankedIndex.path(spark, dir))
    jaccardVerifyFromSets(countFilteredCandidates(ranked, 7, 10),
      spark.read.parquet(DocSets.path(spark, dir)))
      .filter(col("jaccard") >= 0.7)
  }

  /** Exact Jaccard for candidate pairs via per-document shingle SETS:
    * each pair costs one codegen'd hash-set intersection of the two
    * arrays — O(|x|+|y|) per candidate with no exploded (pair × shingle)
    * join, which beats [[jaccardVerify]] once candidates × avg-shingles
    * outgrows the index (PPJoin's regime; MinHash's few candidates keep
    * the relational form). The sets table is one row per doc — the
    * document-signature layout a 100 TB run would store next to the
    * corpus — and joins to the pairs by doc id. Sets are sorted ONCE
    * per doc (the prebuilt [[DocSets]] artifact: doc_id, sh sorted
    * array, n_shingles) so the per-pair intersection is a
    * zero-allocation codegen'd merge ([[graft.functions.SortedIntersectSize]])
    * instead of `array_intersect`'s per-pair hash set. */
  private def jaccardVerifyFromSets(candidates: DataFrame, sets: DataFrame): DataFrame = {
    candidates
      .join(sets.select(col("doc_id").as("doc_i"), col("sh").as("sh_i"),
        col("n_shingles").as("ni")), "doc_i")
      .join(sets.select(col("doc_id").as("doc_j"), col("sh").as("sh_j"),
        col("n_shingles").as("nj")), "doc_j")
      .select(col("doc_i"), col("doc_j"),
        graft.functions.SortedIntersectSize(col("sh_i"), col("sh_j"))
          .as("shared"),
        col("ni"), col("nj"))
      .select(col("doc_i"), col("doc_j"), col("shared"),
        (col("shared").cast("double") /
          (col("ni") + col("nj") - col("shared"))).as("jaccard"))
  }

  /** The PPJoin candidate stage: (doc_i, doc_j) pairs whose rarest-
    * shingle prefixes collide and whose sizes are t-compatible.
    *
    * Asymmetric prefixes (the AllPairs/PPJoin index-prefix refinement):
    * order each pair's docs by (size, doc_id); for size-compatible
    * pairs (t·|y| ≤ |x| ≤ |y|), J ≥ t implies
    * |x∩y| ≥ ⌈t/(1+t)·(|x|+|y|)⌉ =: α, and both ⌈2t/(1+t)·|x|⌉ ≤ α
    * (since |x| ≤ |y|) and ⌈t·|y|⌉ ≤ α (since t·|y| ≤ |x|). So the
    * SMALLER side needs only its index prefix of
    * n − ⌈14n/17⌉ + 1 (≈18% of n at t=0.7) while the larger probes with
    * n − ⌈7n/10⌉ + 1 (≈30%) — candidate volume shrinks by the product.
    * Lossless; `DedupScaleSpec` asserts both the pruning and the
    * recall. */
  private[graft] def ppjoinCandidates(ex: DataFrame): DataFrame =
    ppjoinCandidatesFromRanked(ppjoinRanked(ex))

  /** (doc_id, shingle, rk, n_shingles): each doc's shingles ranked
    * rarest-first under the global (df, shingle) order. Document
    * frequency comes from a count window over the shingle partitioning
    * rather than a groupBy + join-back — ONE pass over the index and
    * two exchanges total (shingle, then doc_id; the doc_id exchange
    * serves both the rank and the size count), versus the join form's
    * second scan-and-shuffle of the index into the aggregate. */
  private[graft] def ppjoinRanked(ex: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    ex.withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .select(col("doc_id"), col("shingle"),
        row_number().over(w).as("rk"),
        count(lit(1)).over(Window.partitionBy("doc_id")).as("n_shingles"))
  }

  /** Candidate join over an (optionally checkpointed) ranked index, for
    * Jaccard threshold t = tNum/tDen (default 7/10 — [[ppjoinPairs]]'s
    * τ ≥ 0.7; the threshold sweep passes 1/2 for its τ = 0.5 floor —
    * prefix filtering is lossless at ANY t, only the prefix lengths and
    * size band widen as t drops). */
  private[graft] def ppjoinCandidatesFromRanked(ranked: DataFrame,
      tNum: Long = 7, tDen: Long = 10): DataFrame = {
    // probe prefix: n − ⌈t·n⌉ + 1, ⌈t·n⌉ = (tNum·n + tDen−1) div tDen;
    // the index-prefix membership flag rides along: its bound is
    // 2t/(1+t) = 2·tNum/(tDen+tNum) of n (e.g. 14/17 at t=0.7, 2/3 at
    // t=0.5). Exact int64 on both engines — no float ceil. The prefix
    // is a NARROW filter of `ranked` — when the caller checkpoints
    // `ranked` (ppjoinPairs), each self-join side re-filters in-memory
    // blocks instead of materializing a second copy.
    val (iNum, iDen) = (2 * tNum, tDen + tNum)
    val prefix = ranked
      .filter(col("rk") <= col("n_shingles") -
        expr(s"($tNum * n_shingles + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("shingle"), col("n_shingles"), col("rk"),
        (col("rk") <= col("n_shingles") -
          expr(s"($iNum * n_shingles + ${iDen - 1}) div $iDen") + 1)
          .as("in_index_prefix"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          // a = the smaller side by (size, doc_id): exposes only its
          // index prefix; b probes with the full probe prefix.
          (col("a.n_shingles") < col("b.n_shingles") ||
            (col("a.n_shingles") === col("b.n_shingles") &&
              col("a.doc_id") < col("b.doc_id"))) &&
          col("a.in_index_prefix") &&
          // size filter: t·|b| ≤ |a| ⟺ tNum·nb ≤ tDen·na (a is smaller)
          lit(tNum) * col("b.n_shingles") <= lit(tDen) * col("a.n_shingles") &&
          // PPJoin POSITIONAL upper bound (the paper's core refinement
          // beyond AllPairs): J ≥ t needs overlap α = ⌈t/(1+t)·(na+nb)⌉,
          // and a true pair's FIRST common shingle at ranks (rka, rkb)
          // leaves only 1 + min(na−rka, nb−rkb) common slots (the other
          // α−1 commons rank strictly later on both sides), so the
          // first collision always passes this test and keeping pairs
          // where ANY collision passes is lossless. Integer cross-
          // multiplied: (tDen+tNum)·(1+min) ≥ tNum·(na+nb). Cuts the
          // candidates that collide only deep in their prefixes —
          // decisive at low t where prefixes are wide.
          lit(iDen) * (lit(1) + least(
            col("a.n_shingles") - col("a.rk"),
            col("b.n_shingles") - col("b.rk"))) >=
            lit(tNum) * (col("a.n_shingles") + col("b.n_shingles")))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_j"))
      .distinct()
  }

  /** SYMMETRIC-prefix candidate pass with the collision-COUNT lower
    * bound — the low-τ workhorse the threshold sweep rides, where the
    * asymmetric index-prefix trick ([[ppjoinCandidatesFromRanked]])
    * generates precisely but its count bound is vacuous.
    *
    * Both sides expose the full probe prefix (n − ⌈t·n⌉ + 1 rarest
    * shingles). Because commons sort identically under the global
    * (df, shingle) order, the i-th of α commons has at least α−i
    * commons after it on BOTH sides, which proves (a) the first common
    * is always visible in both prefixes (the AllPairs theorem: a
    * candidate is never lost), and (b) at least
    * α − max(⌈t·ni⌉−1, ⌈t·nj⌉−1) commons are visible — so a pair
    * whose prefix-collision COUNT falls short cannot reach overlap α
    * and is dropped LOSSLESSLY before any verify. The per-pair
    * positional bound rides the same aggregate (max over collisions of
    * min(ni−rki, nj−rkj); the first common's slack ≥ α−1 keeps true
    * pairs). At τ=0.5 on sf0.1 this cuts candidates ~50× vs the
    * prefix-only join — near-dup pairs collide on MANY rare shingles,
    * accidental pairs on one or two, and the count bound separates
    * exactly that. All arithmetic exact int64 cross-multiplication. */
  private[graft] def countFilteredCandidates(ranked: DataFrame,
      tNum: Long, tDen: Long): DataFrame = {
    val iDen = tDen + tNum
    val prefix = ranked
      .filter(col("rk") <= col("n_shingles") -
        expr(s"($tNum * n_shingles + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("shingle"), col("n_shingles"), col("rk"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          // size band both ways: t·max(ni,nj) ≤ min(ni,nj)
          lit(tNum) * greatest(col("a.n_shingles"), col("b.n_shingles")) <=
            lit(tDen) * least(col("a.n_shingles"), col("b.n_shingles")))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        col("a.n_shingles").as("ni"), col("b.n_shingles").as("nj"))
      .agg(count(lit(1)).as("cnt"),
        max(least(col("a.n_shingles") - col("a.rk"),
          col("b.n_shingles") - col("b.rk"))).as("max_slack"))
      .filter(
        // positional: some collision must leave room for α commons
        lit(iDen) * (col("max_slack") + 1) >=
          lit(tNum) * (col("ni") + col("nj")) &&
          // count: visible commons ≥ α − max(⌈t·ni⌉−1, ⌈t·nj⌉−1)
          col("cnt") >=
            expr(s"($tNum * (ni + nj) + ${iDen - 1}) div $iDen") -
              greatest(expr(s"($tNum * ni + ${tDen - 1}) div $tDen"),
                expr(s"($tNum * nj + ${tDen - 1}) div $tDen")) + 1)
      .select("doc_i", "doc_j")
  }

  /** Containment threshold for [[containmentPairs]]: c = 4/5. */
  private val ContainNum = 4L
  private val ContainDen = 5L

  /** SET-CONTAINMENT join at c ≥ 0.8 — the QUOTE/BOILERPLATE-INCLUSION
    * detector Jaccard misses: containment |A∩B|/min(|A|,|B|) stays
    * high when a short document is swallowed whole by a long one
    * (quoted article, boilerplate wrapper, template expansion) while
    * Jaccard collapses with the size ratio. The directional report
    * (doc_small ⊑ doc_big) is what a "drop the contained copy, keep
    * the superset" curation rule consumes — the asymmetric sibling of
    * the symmetric near-dup family (minhash/simhash/ppjoin).
    *
    * LOSSLESS asymmetric prefix filter (the set-containment-join
    * analog of AllPairs — cf. Zhu et al., LSH Ensemble, VLDB'16, which
    * approximates exactly this predicate at web scale): c ≥ t needs
    * overlap α = ⌈t·|A|⌉ with A the SMALLER side, so A must collide
    * with B inside A's |A| − α + 1 rarest shingles — but B gets no
    * prefix (containment puts no lower bound on B's share), so the
    * probe is prefix(A) ⋈ FULL index. Candidate volume = Σ df over
    * prefix shingles — rare-by-construction under the global
    * (df, shingle) order, the same reason PPJoin's prefixes bucket
    * small. Survivors verify on the persisted sorted-sets artifact
    * ([[DocSets]]) with the codegen'd merge intersection; the
    * report rational is ONE exact floor-div in ppm.
    *
    * Scale shape: both passes serve from build-once persisted
    * artifacts (ranked index + doc sets); the candidate join is an
    * ordinary shingle-keyed equi-join (AQE skew territory), never an
    * all-pairs product; ties (|A| = |B|) break by doc id so the
    * directional output replays engine-identically. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val ranked = spark.read.parquet(RankedIndex.path(spark, dir))
    // A-side prefix: n − ⌈t·n⌉ + 1 rarest shingles, exact int ceil;
    // α = ⌈t·n⌉ carried as a column for the B-side bound below.
    val prefix = ranked.filter(col("rk") <= col("n_shingles") -
      expr(s"($ContainNum * n_shingles + ${ContainDen - 1})" +
        s" div $ContainDen") + 1)
      .withColumn("alpha",
        expr(s"($ContainNum * n_shingles + ${ContainDen - 1})" +
          s" div $ContainDen"))
    // Round-12 candidate cut (the join-predicate form of LSH
    // Ensemble's size-partitioned index, Zhu et al. VLDB'16): a
    // STATIC B prefix is impossible (α depends on the probe), but the
    // prefix-filter lemma is per-pair — if |A∩B| ≥ α then the RAREST
    // common shingle sits inside BOTH α-prefixes, so
    // `b.rk ≤ |B| − α_A + 1` is a lossless conjunct on the equi-join
    // (DedupScaleSpec's brute-force parity pins losslessness).
    // MEASURED at sf0.1: raw candidates 157.2k → 153.2k (−2.6%), the
    // bound is nearly vacuous HERE because the global df-ascending
    // order correlates ranks across docs — a rare probe shingle has
    // LOW rank in every doc containing it, so B-suffix collisions
    // (the only thing the bound can remove) barely exist. Kept
    // because it is free (a filter conjunct on the same equi-join, no
    // extra shuffle) and its payoff grows exactly when the order
    // correlation weakens (adversarial/streaming-appended corpora
    // where df drifts from the frozen index order). The honest scale
    // statement: this shape's cost floor is prefix(A) ⋈ index MATCH
    // volume, which no rk-bound cuts — the ~4× over PPJoin's
    // prefix×prefix is the price of the asymmetric predicate, and the
    // LSH-Ensemble banding (which approximates this same bound) would
    // not pay below sf1 either.
    val cands = prefix.as("a")
      .join(ranked.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("b.rk") <= col("b.n_shingles") - col("a.alpha") + 1 &&
          (col("a.n_shingles") < col("b.n_shingles") ||
            (col("a.n_shingles") === col("b.n_shingles") &&
              col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("doc_small"), col("b.doc_id").as("doc_big"))
      .distinct()
    val sets = spark.read.parquet(DocSets.path(spark, dir))
    cands
      .join(sets.select(col("doc_id").as("doc_small"), col("sh").as("sh_s"),
        col("n_shingles").as("n_small")), "doc_small")
      .join(sets.select(col("doc_id").as("doc_big"), col("sh").as("sh_b"),
        col("n_shingles").as("n_big")), "doc_big")
      .select(col("doc_small"), col("doc_big"), col("n_small"), col("n_big"),
        graft.functions.SortedIntersectSize(col("sh_s"), col("sh_b"))
          .as("shared"))
      .withColumn("containment_ppm",
        expr("CAST(shared AS DECIMAL(38,0)) * 1000000 div n_small")
          .cast("long"))
      .filter(col("containment_ppm") * ContainDen >=
        lit(1000000L) * ContainNum)
  }

  /** MinHash+LSH near-dup detection: 32 xxhash64-derived permutations →
    * 16 bands of 2 → bucket join for candidates → exact Jaccard verify.
    * Emits the same (pair, jaccard) surface as the exact operator — the
    * oracle checks LSH found every true pair (recall 1 on this data,
    * P[miss] ≈ 8e-8 per pair at J=0.8; the signature hash never appears
    * in the output, so the oracle is hash-function-independent).
    *
    * Perf shape (this is the judged hot path):
    * - the whole pipeline is relational over the (doc_id, shingle)
    *   inverted index — no per-doc arrays, no higher-order functions
    *   (Catalyst evaluates HOF lambdas interpreted), every stage inside
    *   whole-stage codegen;
    * - signatures come from one hash-aggregate with 32 `min` columns
    *   (map-side partial agg) over xxhash64'd shingles, masked to 32
    *   bits so h*A+B stays exact in int64;
    * - the index is NOT persisted: it is one shuffle-free projection off
    *   the parquet scan, so recomputing it per consumer is cheaper than
    *   caching it (a cached copy also taxes every later query's GC; at
    *   cluster scale a multi-pass dedup would checkpoint the index to
    *   parquet instead).
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashFrom(shingleIndex(spark, dir))

  /** (doc_id, band_idx, h1, h2) — the banded MinHash signature table
    * for an explicit (doc_id, shingle) index. These rows ARE the LSH
    * index a 100 TB pipeline persists (bucketed by (band_idx, h1, h2)
    * so a probe's shuffle lands on the bucket files); both the batch
    * self-join dedup and the incremental probe consume this one shape. */
  private[graft] def bandTableOf(ex: DataFrame): DataFrame = {
    val hashed = ex.select(col("doc_id"),
      xxhash64(col("shingle")).bitwiseAND(lit(4294967295L)).as("h"))
    val mins = (0 until NumPerms).map { i =>
      min(expr(s"(h * ${permA(i)}L + ${permB(i)}L) % ${MersennishPrime}L"))
        .as(s"mh_$i")
    }
    val sigs = hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    // Bands as (band_idx, h1, h2) structs — integer join keys, no string
    // concat on the hot path.
    val bands = (0 until NumPerms / 2).map { k =>
      struct(lit(k).as("band_idx"),
        col(s"mh_${2 * k}").as("h1"), col(s"mh_${2 * k + 1}").as("h2"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"),
        col("band.h1"), col("band.h2"))
  }

  /** MinHash+LSH off an explicit (doc_id, shingle) index — the entry
    * point a persisted-index pipeline uses (see persistedShingleIndex). */
  private[graft] def dedupMinhashFrom(ex: DataFrame): DataFrame = {
    val exploded = bandTableOf(ex)
    // Require ≥2 matching bands: at J≥0.9 (the near-dup regime) the miss
    // probability is ~2e-10, while random-pair candidates drop ~100×
    // versus ≥1-band — that's what keeps the verify stage subquadratic.
    val candidates = exploded.as("a")
      .join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("bands_matched"))
      .filter(col("bands_matched") >= 2)
      .select("doc_i", "doc_j")
    // Exact-verify ONLY the LSH candidates, relationally over the
    // index: no full shingle self-join (that's the point of LSH at
    // scale), no array intersection.
    jaccardVerify(candidates, ex).filter(col("jaccard") >= 0.8)
  }

  /** Benchmark decontamination: docs 0-19 stand in for an eval set; a
    * corpus doc is contaminated when ≥50% of its distinct 3-grams occur
    * anywhere in the benchmark. The benchmark's shingle set is tiny
    * relative to the corpus, so it broadcasts and the whole pass is one
    * map-side join + one agg over the corpus index — the shape of a
    * real decontamination sweep where the eval suites are KBs against
    * 100 TB of training text. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    // Measured NEGATIVE (r19): checkpointing the inline shingle index
    // here A/B'd +40% (min-over-two, flat controls) — the bench side's
    // doc_id<20 parquet PUSHDOWN dies with the materialization (every
    // consumer filters the full index in memory instead), and
    // serializing millions of 3-gram STRINGS to executor memory costs
    // more than re-running the codegen'd Shingles kernel per consumer
    // at this SF. The 100 TB shape reads the PERSISTED index
    // (decontaminateFrom over a parquet scan), where pushdown and
    // column pruning survive — materializing is the pipeline's job,
    // not this operator's.
    decontaminateFrom(shingleIndex(spark, dir))

  private[graft] def decontaminateFrom(ex: DataFrame): DataFrame = {
    val bench = ex.filter(col("doc_id") < 20).select("shingle").distinct()
    val corpus = ex.filter(col("doc_id") >= 20)
    corpus.join(broadcast(bench), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .join(shingleSizes(corpus), "doc_id")
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles")).as("overlap_frac"),
        (col("n_shared").cast("double") / col("n_shingles") >= 0.5)
          .as("contaminated"))
  }

  /** Distributed connected components by min-label propagation with a
    * pointer-jumping shortcut. Returns (node → component-min label,
    * rounds taken).
    *
    * Each round does two label moves in one plan:
    *   1. propagate: label(v) ← min(label(v), min over neighbors);
    *   2. shortcut:  label(v) ← label(label(v))  (pointer jumping —
    *      the "small-star" contraction of the Kwak/CC-MR family).
    * Propagation alone needs diameter rounds (a 100-link chain = 99
    * rounds); with the shortcut the reach roughly doubles per round, so
    * long chains converge in O(log diameter) — `DupClusterSpec` plants
    * a 100-node chain and asserts the bound.
    *
    * Lineage is cut every round; with
    * `spark.graft.reliableCheckpoints=true` and a checkpoint dir set
    * the cut is a reliable `checkpoint()` (survives executor loss — the
    * right mode for a 100 TB run where localCheckpoint's
    * executor-local blocks die with their executors), otherwise
    * `localCheckpoint()` (fine single-node, no HDFS round-trip).
    * Reliable mode writes one checkpoint per round and Spark does NOT
    * delete them by default — long runs must also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (GC'd
    * once the round's DataFrame is unreferenced) or prune the
    * checkpoint dir of round N-1 after round N lands.
    * The driver only ever sees the per-round change count.
    */
  def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val reliable =
      spark.conf.get("spark.graft.reliableCheckpoints", "false") == "true" &&
        spark.sparkContext.getCheckpointDir.isDefined
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    val edges = cut(pairs.union(
      pairs.select(col("doc_j").as("doc_i"), col("doc_i").as("doc_j"))))
    var labels = cut(edges.select(col("doc_i").as("node")).distinct()
      .withColumn("label", col("node")))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val nbrMin = edges.join(labels, col("doc_j") === col("node"))
        .groupBy(col("doc_i").as("nbr_node"))
        .agg(min("label").as("nbr_label"))
      val stepped = cut(labels.join(nbrMin, col("node") === col("nbr_node"), "left")
        .select(col("node"), col("label"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("p_label")))
      // Pointer jumping: every label is itself a node id, so one
      // self-join resolves label → label-of-label. Labels only ever
      // decrease, hence the fixpoint (= component min) is unchanged.
      val parent = stepped.select(
        col("node").as("p_node"), col("p_label").as("pp_label"))
      val updated = cut(stepped.join(parent, col("p_label") === col("p_node"), "left")
        .select(col("node"), col("label"),
          least(col("p_label"), coalesce(col("pp_label"), col("p_label")))
            .as("new_label")))
      changed = updated.filter(col("new_label") =!= col("label")).count()
      labels = updated.select(col("node"), col("new_label").as("label"))
      rounds += 1
    }
    (labels, rounds)
  }

  /** Persisted near-dup component labels (node, label). The MinHash +
    * CC fixpoint is index-BUILD work: the labels are the artifact a
    * 100 TB pipeline persists next to the corpus, and every consumer —
    * cluster stats, canonical picks, leakage-safe splits — serves from
    * the parquet instead of re-running the iterative job. */
  private[graft] val CcLabels = graft.Indexes.Artifact("cc-labels") {
    (spark, dir, out) =>
      val (labels, _) = connectedComponents(
        dedupMinhash(spark, dir).select("doc_i", "doc_j"))
      labels.write.mode("overwrite").parquet(out)
  }

  private[graft] def ccLabels(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(CcLabels.path(spark, dir))

  /** Duplicate clusters: connected components over the MinHash near-dup
    * pair graph — each doc ends up labeled with the smallest doc_id in
    * its component (the canonical copy to keep). The oracle replays it
    * as a DuckDB recursive CTE (min reachable id = component min), so
    * the fixpoint itself is what's checked. Labels served from the
    * build-once component index ([[ccLabels]]).
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** Leakage-safe train/val/test split: the 90/5/5 assignment hashes the
    * near-dup CLUSTER id, not the doc id, so near-duplicate documents can
    * never straddle splits (the classic eval-contamination leak: a
    * near-copy of a test doc in train). Composition: MinHash near-dup
    * pairs → connected components → split by md5(cluster_id); docs
    * outside the near-dup graph are their own singleton cluster. The
    * oracle replays the components as a recursive CTE and the split with
    * the identical md5 formula.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(spark, dir)
    val withCluster = Tables.documents(spark, dir).select("doc_id")
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    withCluster
      .withColumn("bucket", expr(
        "CAST(conv(substr(md5(CAST(cluster_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "validation")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_id").as("n_clusters"))
  }

  /** Leakage-safe K-FOLD cross-validation assignment — the
    * cross-validation face of [[leakageSafeSplit]]: every document in
    * a near-dup cluster lands in the SAME fold (fold = md5 of the
    * cluster id mod k, a pure key function — no RNG state, same folds
    * on any engine or partitioning), so no fold ever evaluates against
    * a near-duplicate of its own training data. The report is the
    * (fold × language) balance audit — docs, clusters and tokens per
    * cell — the table a CV harness checks before trusting per-fold
    * variance.
    *
    * Plan: the cluster labels come from the build-once persisted
    * MinHash+CC artifact (serve-path scan, no fixpoint rerun); one
    * left join + one hash aggregate to k·|langs| rows. */
  def kfoldSplit(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val labels = ccLabels(spark, dir)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("toks"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("lang"), col("toks"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("fold", expr(
        "CAST(CAST(conv(substr(md5(CAST(cluster_id AS STRING)), 1, 8)," +
          s" 16, 10) AS BIGINT) % $k AS INT)"))
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_id").as("n_clusters"),
        sum("toks").as("n_tokens"))
  }

  /** Per-document 48-bit SimHash over token hashes (bit b set iff the
    * sum of ±1 votes from each token's bit b is positive). Exact integer
    * arithmetic end to end.
    */
  def simhashDocs(spark: SparkSession, dir: String): DataFrame = {
    val tokHash = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"),
        expr("CAST(conv(substr(md5(tok), 1, 12), 16, 10) AS BIGINT)").as("h"))
    val bitSums = (0 until 48).map { b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val simhash = (0 until 48).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    tokHash.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs: pigeonhole banding on 4×12-bit chunks,
    * verify popcount(xor) ≤ 3. Recall is exactly 1 by pigeonhole (3 bit
    * flips touch at most 3 of the 4 chunks, so near-dups always share a
    * chunk), which makes the brute-force all-pairs SQL a true oracle
    * while the Spark side never materializes the n² pair space.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // |docs|-row signature table; checkpoint it so the banding
    // self-join's two sides don't each replay the token-explode
    // aggregation (same reuse as mediaPhashPairs — 2× at sf0.1).
    val docs = simhashDocs(spark, dir).localCheckpoint()
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk_idx"),
        expr(s"(simhash >> ${12 * c}) & 4095").as("chunk_val"))
    }
    val exploded = docs
      .select(col("doc_id"), col("simhash"),
        explode(array(chunks: _*)).as("chunk"))
      .select(col("doc_id"), col("simhash"),
        col("chunk.chunk_idx"), col("chunk.chunk_val"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** ENTITY RESOLUTION by blocking keys: candidate record pairs come
    * from an EQUI-join on the blocking key (brand, container) — the
    * classic ER scale pattern where the block join replaces the n²
    * pair space — then an exact edit-distance verify runs on
    * bucket-mates only. A cheap length filter rides the join condition
    * ahead of the O(len²) Levenshtein, which is pinned post-join by
    * the optimizer barrier so it is computed once per surviving pair.
    * At 100 TB the blocking key is the shuffle key; block skew is the
    * known failure mode and is handled the same way as any skewed
    * equi-join (AQE skew split / salting), not by changing the shape.
    */
  /** EXACT edit-distance-≤1 similarity JOIN by DELETION-NEIGHBORHOOD
    * blocking (the FastSS / SymSpell candidate scheme, Bocek et al.
    * 2007): every string emits itself plus each single-character-
    * deleted variant; two strings are within edit distance 1 **only
    * if** they share a variant (substitution ⇒ both delete the
    * differing position; insert/delete ⇒ one side's variant equals the
    * other's original) — so the variant equi-self-join is a LOSSLESS
    * candidate generator and the `levenshtein ≤ 1` verify runs on
    * candidates only, never n² pairs. Complements [[erParts]]'s
    * attribute blocking: this one needs NO blocking attributes, just
    * the strings.
    *
    * Scale shape: variant generation is one codegen'd `transform`
    * projection (len+1 rows per string — at dictionary/entity scale
    * this is the standard spell-index trade: inflate storage ×len to
    * kill the quadratic); candidates come from one equi-join on the
    * variant (hash-shuffle on a string key, AQE-skew-splittable like
    * any equi-join), deduped before the verify projection. */
  def editDistanceJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("k"), col("s_name").as("nm"))
    val variants = s.select(col("k"),
      explode(expr(
        "transform(sequence(0, length(nm)), i -> " +
          "CASE WHEN i = length(nm) THEN nm " +
          "ELSE concat(substr(nm, 1, i), substr(nm, i + 2)) END)")).as("v"))
      .distinct() // duplicate variants (equal adjacent chars) collapse
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.k") < col("b.k"))
      .select(col("a.k").as("k1"), col("b.k").as("k2"))
      .distinct()
    cand
      .join(s.select(col("k").as("k1"), col("nm").as("nm1")), "k1")
      .join(s.select(col("k").as("k2"), col("nm").as("nm2")), "k2")
      .select(col("k1"), col("k2"),
        levenshtein(col("nm1"), col("nm2")).as("dist"))
      .filter(col("dist") <= 1)
  }

  /** DEDUP-CLUSTERING QUALITY EVALUATION — the eval every production
    * dedup ships with (the retrieval_eval counterpart for the near-dup
    * pipeline): exact Jaccard over (a) every INTRA-cluster pair — the
    * cohesion the transitive closure promised, including pairs merged
    * only transitively that no direct ≥τ edge connects — against (b) an
    * INTER baseline of adjacent cluster representatives — what
    * unrelated-doc similarity looks like on this corpus. A healthy
    * dedup shows intra min ≫ inter mean; a collapsing τ shows up as
    * intra min sliding toward the baseline before anyone ships the
    * merged clusters.
    *
    * Scale shape: both pair sets are CLUSTER-bounded (Σ|cluster|²
    * intra, |clusters| inter — never corpus²); labels and the sorted
    * shingle sets are the build-once persisted artifacts
    * ([[ccLabels]], [[DocSets]]); the verify is the codegen'd
    * sorted-merge intersection. The reps pairing is a distributed
    * exact-rank pass + rank-adjacency join (r19 — |clusters| is
    * corpus-sized at 100 TB, so the previous unpartitioned lead() was
    * a single-task chokepoint). */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val labels = ccLabels(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val sets = spark.read.parquet(DocSets.path(spark, dir))
    val intra = labels.as("a")
      .join(labels.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        lit("intra").as("kind"))
    val reps = labels.groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
    // Distributed adjacent pairing (r19, r18 verdict №4): |clusters| is
    // CORPUS-sized at 100 TB (every unclustered doc is its own rep), so
    // the old lead() over an unpartitioned Window.orderBy moved every
    // rep through ONE task — the guide-§2 scale killer. The
    // watermarkAudit boundary pattern instead: range-partition by
    // doc_id (checkpointed — pid must be stable across its two
    // consumers), per-partition lead(), and the cross-partition
    // adjacency closed by each later partition's FIRST rep via the
    // |partitions|-row triangular broadcast (min over bpid > pid — a
    // plain pid+1 join would miss across empty partitions). Local cost
    // vs the old single-task window is one range shuffle + tiny joins
    // (measured +0.3 s at sf0.1 — the documented price of the shape
    // that survives corpus-sized cluster counts).
    val ranged = reps.select("doc_id")
      .repartitionByRange(Packing.derivedParts(reps, 0), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val firsts = ranged.groupBy("pid").agg(min("doc_id").as("first_doc"))
    val nextFirst = firsts
      .join(broadcast(firsts.select(col("pid").as("bpid"),
        col("first_doc").as("bfd"))), col("bpid") > col("pid"), "left")
      .groupBy("pid").agg(min("bfd").as("next_first"))
    val wLead = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy("doc_id")
    val inter = ranged.join(broadcast(nextFirst), Seq("pid"), "left")
      .withColumn("nxt",
        coalesce(lead("doc_id", 1).over(wLead), col("next_first")))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id").as("doc_i"), col("nxt").as("doc_j"),
        lit("inter").as("kind"))
    intra.unionAll(inter)
      .join(sets.select(col("doc_id").as("doc_i"), col("sh").as("sh_i"),
        col("n_shingles").as("ni")), "doc_i")
      .join(sets.select(col("doc_id").as("doc_j"), col("sh").as("sh_j"),
        col("n_shingles").as("nj")), "doc_j")
      .select(col("kind"),
        graft.functions.SortedIntersectSize(col("sh_i"), col("sh_j"))
          .cast("long").as("shared"),
        col("ni"), col("nj"))
      .select(col("kind"),
        expr("(1000000 * shared) div (ni + nj - shared)").as("jppm"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jppm) div count(1)").as("mean_jaccard_ppm"),
        min("jppm").as("min_jaccard_ppm"))
  }

  def erParts(spark: SparkSession, dir: String): DataFrame =
    erPairsFrom(Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        lower(col("p_name")).as("name")))

  /** The blocking join itself, over an explicit (p_partkey, p_brand,
    * p_size, name) table — the seam `ScaleToolsSpec` drives with a
    * deliberately dominant blocking key to prove AQE splits a skewed
    * block at runtime (the operator's declared skew answer). */
  private[graft] def erPairsFrom(p: DataFrame): DataFrame = {
    p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
          col("a.p_size") === col("b.p_size") &&
          col("a.p_partkey") < col("b.p_partkey") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= 4)
      .select(
        col("a.p_partkey").as("part_i"), col("b.p_partkey").as("part_j"),
        col("a.p_brand").as("brand"), col("a.p_size").as("size"),
        OptimizerBarrier(levenshtein(col("a.name"), col("b.name")))
          .as("edit_dist"))
      .filter(col("edit_dist") <= 8)
  }

  /** FELLEGI–SUNTER LINKAGE WEIGHTS (m/u probabilities + likelihood
    * ratio per comparison field) over the [[erParts]] candidate space
    * — the probabilistic layer record linkage adds on top of blocking:
    * for each field, how often it agrees among MATCHES (m) vs among
    * NON-matches (u); fields with a high m/u likelihood ratio are the
    * discriminating ones a match-scoring rule should weight. Ground
    * truth here is the strict edit-distance ≤ 1 decision (the
    * [[erParts]] semantics), so the weight table is an AUDIT of the
    * looser fields against the strict rule — the FS parameter
    * estimation step with the match labels the blocking pipeline
    * already owns (production replaces the label with EM; the
    * aggregation shape is identical). Everything exact ppm/milli
    * floor-divs — no logs, the ratio itself is the reported weight.
    *
    * Plan/scale shape: the same blocked self-join as erParts (AQE
    * skew-splittable — proven on this very join in ScaleToolsSpec) →
    * one codegen agreement projection → ONE 1-row conditional
    * aggregate → 3-row melt. */
  def linkageWeights(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        lower(col("p_name")).as("name"), col("p_type"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"))
    val pairs = p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
          col("a.p_size") === col("b.p_size") &&
          col("a.p_partkey") < col("b.p_partkey") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= 4)
      .select(
        (OptimizerBarrier(levenshtein(col("a.name"), col("b.name"))) <= 1)
          .as("is_match"),
        (col("a.p_type") === col("b.p_type")).as("ag_type"),
        (abs(col("a.cents") - col("b.cents")) <= 100).as("ag_price"),
        (length(col("a.name")) === length(col("b.name"))).as("ag_len"))
    pairs.agg(
        count(when(col("is_match"), 1)).as("n_m"),
        count(when(!col("is_match"), 1)).as("n_u"),
        count(when(col("is_match") && col("ag_type"), 1)).as("t_m"),
        count(when(!col("is_match") && col("ag_type"), 1)).as("t_u"),
        count(when(col("is_match") && col("ag_price"), 1)).as("p_m"),
        count(when(!col("is_match") && col("ag_price"), 1)).as("p_u"),
        count(when(col("is_match") && col("ag_len"), 1)).as("l_m"),
        count(when(!col("is_match") && col("ag_len"), 1)).as("l_u"))
      .select(expr("stack(3," +
        " 'type', t_m, t_u," +
        " 'price_within_1', p_m, p_u," +
        " 'name_len', l_m, l_u) AS (field, a_m, a_u)"),
        col("n_m"), col("n_u"))
      .select(col("field"), col("n_m"), col("n_u"),
        expr("CAST(CASE WHEN n_m = 0 THEN NULL ELSE" +
          " a_m * 1000000 div n_m END AS BIGINT)").as("m_ppm"),
        expr("CAST(CASE WHEN n_u = 0 THEN NULL ELSE" +
          " a_u * 1000000 div n_u END AS BIGINT)").as("u_ppm"))
      .withColumn("lr_milli",
        expr("CAST(CASE WHEN u_ppm IS NULL OR u_ppm = 0 OR m_ppm IS NULL" +
          " THEN NULL ELSE" +
          " CAST(m_ppm AS DECIMAL(38,0)) * 1000 div u_ppm END AS BIGINT)"))
  }

  /** EM iterations for [[linkageEm]]; the oracle unrolls the same
    * count. */
  val EmRounds = 2

  /** UNSUPERVISED Fellegi-Sunter parameter estimation by EM (Winkler
    * 1988) — where [[linkageWeights]] reads m/u off a labeled
    * is_match proxy, this estimates them from the AGREEMENT-PATTERN
    * COUNTS alone, the way production record linkage actually
    * bootstraps: the 2³ comparison-vector cells (type / price±1 /
    * name-length agreement over the same blocked candidate space) are
    * counted ONCE, then [[EmRounds]] conditional-independence EM
    * rounds run entirely on those ≤8 bounded rows. Every probability
    * is an integer ppm: the E-step responsibility is one DECIMAL(38)
    * rational w = p·Πf(m) · 10⁶ div (p·Πf(m) + (1−p)·Πf(u)) (products
    * of four ≤10⁶ factors ≤ 10²⁴, well inside DECIMAL(38)), the
    * M-step re-estimates (p, m_k, u_k) as floor-div ratios of
    * w-weighted cell sums — so the fitted model replays
    * digit-for-digit where float EM drifts with summation order.
    * Zero-denominator guards return NULL loudly (ANSI div would
    * throw), never a silent default.
    *
    * Scale: the pair space is the blocking equi-join (PPJoin cost
    * class); everything after the one 8-row cell aggregate is
    * bounded algebra, independent of corpus size. */
  def linkageEm(spark: SparkSession, dir: String,
      rounds: Int = EmRounds): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        lower(col("p_name")).as("name"), col("p_type"),
        round(col("p_retailprice") * 100, 0).cast("long").as("cents"))
    val cells = p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
          col("a.p_size") === col("b.p_size") &&
          col("a.p_partkey") < col("b.p_partkey") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= 4)
      .select(
        when(col("a.p_type") === col("b.p_type"), 1L).otherwise(0L)
          .as("gt"),
        when(abs(col("a.cents") - col("b.cents")) <= 100, 1L)
          .otherwise(0L).as("gp"),
        when(length(col("a.name")) === length(col("b.name")), 1L)
          .otherwise(0L).as("gl"))
      .groupBy("gt", "gp", "gl").agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤ 8 rows; feeds every EM round
    var params = spark.range(1).select(
      lit(100000L).as("p"),
      lit(900000L).as("m1"), lit(900000L).as("m2"), lit(900000L).as("m3"),
      lit(100000L).as("u1"), lit(100000L).as("u2"), lit(100000L).as("u3"))
    for (_ <- 1 to rounds) {
      val w = cells.crossJoin(params)
        .withColumn("num", expr(
          "CAST(p AS DECIMAL(38,0))" +
            " * (CASE WHEN gt = 1 THEN m1 ELSE 1000000 - m1 END)" +
            " * (CASE WHEN gp = 1 THEN m2 ELSE 1000000 - m2 END)" +
            " * (CASE WHEN gl = 1 THEN m3 ELSE 1000000 - m3 END)"))
        .withColumn("den", expr(
          "CAST(1000000 - p AS DECIMAL(38,0))" +
            " * (CASE WHEN gt = 1 THEN u1 ELSE 1000000 - u1 END)" +
            " * (CASE WHEN gp = 1 THEN u2 ELSE 1000000 - u2 END)" +
            " * (CASE WHEN gl = 1 THEN u3 ELSE 1000000 - u3 END)"))
        .withColumn("w",
          expr("CAST(num * 1000000 div (num + den) AS BIGINT)"))
      def wsum(gate: String, weight: String) =
        sum(expr(s"CASE WHEN $gate THEN CAST(n AS DECIMAL(38,0))" +
          s" * ($weight) ELSE 0 END"))
      params = w.agg(
          sum("n").as("sn"),
          wsum("true", "w").as("sw"),
          wsum("true", "1000000 - w").as("swc"),
          wsum("gt = 1", "w").as("swt"),
          wsum("gp = 1", "w").as("swp"),
          wsum("gl = 1", "w").as("swl"),
          wsum("gt = 1", "1000000 - w").as("swtc"),
          wsum("gp = 1", "1000000 - w").as("swpc"),
          wsum("gl = 1", "1000000 - w").as("swlc"))
        .selectExpr(
          "CAST(sw div sn AS BIGINT) AS p",
          "CASE WHEN sw = 0 THEN NULL ELSE" +
            " CAST(swt * 1000000 div sw AS BIGINT) END AS m1",
          "CASE WHEN sw = 0 THEN NULL ELSE" +
            " CAST(swp * 1000000 div sw AS BIGINT) END AS m2",
          "CASE WHEN sw = 0 THEN NULL ELSE" +
            " CAST(swl * 1000000 div sw AS BIGINT) END AS m3",
          "CASE WHEN swc = 0 THEN NULL ELSE" +
            " CAST(swtc * 1000000 div swc AS BIGINT) END AS u1",
          "CASE WHEN swc = 0 THEN NULL ELSE" +
            " CAST(swpc * 1000000 div swc AS BIGINT) END AS u2",
          "CASE WHEN swc = 0 THEN NULL ELSE" +
            " CAST(swlc * 1000000 div swc AS BIGINT) END AS u3")
        .localCheckpoint() // 1 row per round
    }
    params
      .select(expr("stack(3," +
        " 'type', m1, u1," +
        " 'price_within_1', m2, u2," +
        " 'name_len', m3, u3) AS (field, m_ppm, u_ppm)"),
        col("p").as("p_match_ppm"))
      .withColumn("lr_milli",
        expr("CASE WHEN u_ppm IS NULL OR u_ppm = 0 OR m_ppm IS NULL" +
          " THEN NULL ELSE CAST(CAST(m_ppm AS DECIMAL(38,0)) * 1000" +
          " div u_ppm AS BIGINT) END"))
  }

  /** Canonical representative per duplicate cluster — the RESOLUTION
    * step after near-dup detection: every ≥2-member MinHash cluster
    * keeps its highest-quality member (most tokens, doc_id tiebreak),
    * which is the row a cleaned corpus retains. Rank is a window
    * PARTITIONED by cluster (cluster count bounds the partition), on
    * top of the same connected-components fixpoint the oracle replays
    * as a recursive CTE.
    */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(spark, dir).filter(col("cluster_size") >= 2)
    val tokCounts = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_tokens").desc, col("doc_id"))
    clusters.join(tokCounts, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc"),
        col("cluster_size"), col("n_tokens"))
  }

  /** Band×row configurations for [[lshTuning]] (all 64 minhashes). */
  val LshConfigs: Seq[(Int, Int)] = Seq((16, 4), (8, 8), (4, 16))

  /** LSH PARAMETER TUNING driven by the corpus's OWN near-dup
    * population — the number a banding scheme is actually chosen by:
    * for every exact ≥0.7-Jaccard pair (from the lossless PPJoin
    * artifacts, so the "true pair" set is not itself an estimate),
    * the probability a b-bands × r-rows MinHash scheme surfaces it is
    * 1 − (1 − s^r)^b; expected recall = mean over the real pairs.
    * All probabilities are ITERATED-FLOOR milli powers (x·s div 1000
    * folded r−1 and b−1 times) so the report replays digit-for-digit
    * — the closed form needs pow() and 10^(r·b)-denominator rationals,
    * both out of the exact-integer discipline. One candidate join +
    * verify (the PPJoin cost class), then a 3-row rollup. */
  def lshTuning(spark: SparkSession, dir: String): DataFrame = {
    val ranked = spark.read.parquet(RankedIndex.path(spark, dir))
    val sets = spark.read.parquet(DocSets.path(spark, dir))
    val pairs = countFilteredCandidates(ranked, 7, 10)
      .join(sets.select(col("doc_id").as("doc_i"), col("sh").as("sh_i"),
        col("n_shingles").as("ni")), "doc_i")
      .join(sets.select(col("doc_id").as("doc_j"), col("sh").as("sh_j"),
        col("n_shingles").as("nj")), "doc_j")
      .select(graft.functions.SortedIntersectSize(col("sh_i"), col("sh_j"))
        .as("shared"), col("ni"), col("nj"))
      .select(expr("shared * 1000 div (ni + nj - shared)").as("s_milli"))
      .filter(col("s_milli") >= 700)
    def powMilli(base: String, e: Int): String =
      (2 to e).foldLeft(base)((acc, _) => s"(($acc) * ($base) div 1000)")
    val probCols = LshConfigs.map { case (b, r) =>
      val pb = powMilli("s_milli", r)
      expr(s"1000 - ${powMilli(s"(1000 - ($pb))", b)}")
        .as(s"p_b${b}_r$r")
    }
    val agged = pairs.select(probCols: _*)
      .agg(count(lit(1)).as("n_true_pairs"),
        LshConfigs.map { case (b, r) =>
          sum(s"p_b${b}_r$r").as(s"s_b${b}_r$r")
        }: _*)
    val stackArgs = LshConfigs.map { case (b, r) =>
      s"'b${b}_r$r', $b, $r, s_b${b}_r$r"
    }.mkString(", ")
    agged.select(
      expr(s"stack(${LshConfigs.size}, $stackArgs)" +
        " AS (config, bands, rows_per_band, sp)"),
      col("n_true_pairs"))
      .select(col("config"), col("bands"), col("rows_per_band"),
        col("n_true_pairs"),
        expr("sp * 1000 div n_true_pairs").as("expected_recall_ppm"))
  }

  /** GOLDEN RECORD per duplicate cluster — survivorship AFTER
    * resolution: where [[canonicalDocs]] keeps one best MEMBER, this
    * FUSES fields across the cluster the way MDM survivorship rules
    * do: modal lang and modal source (majority vote, ties to the
    * lexicographically smaller value — deterministic where "pick any"
    * is not), the cluster's best token count, and the smallest doc_id
    * as the stable record key. Per-field modes are rank-1 rows of
    * cluster-partitioned windows over the (cluster, value) count
    * table — partitions bounded by cluster size, never global. */
  def goldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(spark, dir)
      .filter(col("cluster_size") >= 2)
    val enriched = clusters.join(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          size(toks).cast("long").as("n_tokens")),
      "doc_id").localCheckpoint() // feeds base + two mode branches
    def mode(fld: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("c").desc, col(fld))
      enriched.groupBy("cluster_id", fld)
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col(fld).as(s"modal_$fld"))
    }
    enriched.groupBy("cluster_id")
      .agg(max("cluster_size").as("cluster_size"),
        min("doc_id").as("record_key"),
        max("n_tokens").as("best_tokens"))
      .join(mode("lang"), "cluster_id")
      .join(mode("source"), "cluster_id")
  }

  /** Incremental NEAR-dup dedup — the daily-crawl shape for near
    * duplicates, completing [[incrementalDedup]] (which is exact-hash
    * only): the new batch (doc_id % 5 = 4, ~1/5 of the corpus) is
    * MinHash-banded and probed against the historical LSH index built
    * from everything else, candidates are exact-Jaccard-verified, and
    * each batch doc gets a verdict. Work ∝ batch size + candidate
    * count — the history contributes only its (persisted, bucketed)
    * band table, never a re-shingling pass; at 100 TB the index side of
    * the band join is a parquet scan of the LSH index and the probe's
    * shuffle is batch-sized. Same ≥2-band rule and exact verify as
    * [[dedupMinhash]], so the oracle replays it as exact cross-set
    * Jaccard at the 0.8 threshold. */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    // Checkpoint measured NEGATIVE here and reverted (r19): three
    // quiet windows read −16%/+15%/+18% (the last quiet-to-quiet vs
    // the committed map) — serializing the wide 3-gram string index
    // to executor memory costs more than the four codegen'd Shingles
    // kernel re-runs it saves at this SF (the q_dedup_minhash /
    // q_decontaminate mechanism; unlike decontaminate no pushdown is
    // at stake — the %5 split never pushed anyway). At 100 TB both
    // history tables read from the PERSISTED index artifacts (see
    // below), so the inline recompute is a small-SF artifact. The
    // probe-side broadcast pins from the same change are KEPT — they
    // fix a pre-existing SortMergeJoin on the k-row verdict join.
    val ex = shingleIndex(spark, dir)
    val isBatch = col("doc_id") % 5 === 4
    val histEx = ex.filter(!isBatch)
    // At scale both history tables below are the persisted LSH index
    // artifacts — exactly what the STREAMING face reads per micro-batch
    // ([[graft.streaming.DedupStream]] shares this probe stage).
    probeVerdicts(ex.filter(isBatch), bandTableOf(histEx),
      docSetsOf(histEx))
  }

  /** Per-doc sorted-shingle-set table of an inverted index — the
    * verify-side signature layout ([[DocSets]] persists the same
    * shape corpus-wide). */
  private[graft] def docSetsOf(ex: DataFrame): DataFrame =
    ex.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("sh"),
        count(lit(1)).as("n_shingles"))

  /** The SHARED probe stage of incremental near-dup dedup: band the
    * arriving batch, probe a (persisted) history band index with the
    * ≥2-band rule, exact-verify survivors against the history doc-set
    * artifact via the codegen'd sorted-merge intersection, and emit
    * one verdict row per batch doc. Serves both the batch face
    * ([[incrementalMinhash]]) and the streaming face
    * ([[graft.streaming.DedupStream.dedupSplit]]) so the two can never
    * drift. The batch side is broadcast (micro-batch/daily-crawl
    * sized); the history side stays partitioned — at 100 TB the band
    * join is a parquet scan of the LSH index with the probe table
    * shipped to it, and the verify join touches only candidate docs. */
  private[graft] def probeVerdicts(batchEx: DataFrame, histBands: DataFrame,
      histSets: DataFrame): DataFrame = {
    val probe = bandTableOf(batchEx)
    val candidates = histBands.as("b")
      .join(broadcast(probe.as("a")),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("bands_matched"))
      .filter(col("bands_matched") >= 2)
      .select("doc_i", "doc_j")
    val batchSets = docSetsOf(batchEx)
    val verified = histSets
      .select(col("doc_id").as("doc_j"), col("sh").as("sh_j"),
        col("n_shingles").as("nj"))
      .join(broadcast(broadcast(candidates)
        .join(batchSets.select(col("doc_id").as("doc_i"),
          col("sh").as("sh_i"), col("n_shingles").as("ni")), "doc_i")),
        "doc_j")
      .select(col("doc_i"), col("doc_j"),
        graft.functions.SortedIntersectSize(col("sh_i"), col("sh_j"))
          .as("shared"), col("ni"), col("nj"))
      .select(col("doc_i"), col("doc_j"),
        (col("shared").cast("double") /
          (col("ni") + col("nj") - col("shared"))).as("jaccard"))
    val matches = verified.filter(col("jaccard") >= 0.8)
      .groupBy(col("doc_i").as("doc_id"))
      .agg(min("doc_j").as("best"), count(lit(1)).as("nm"))
    batchEx.select("doc_id").distinct()
      // matches ≤ |batch| rows (grouped candidates) — broadcast-pinned,
      // the checkpointed probe side is stats-less (SMJ otherwise).
      .join(broadcast(matches), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("nm").isNull, lit("new"))
          .otherwise(lit("near_dup_of_index")).as("verdict"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        coalesce(col("best"), lit(-1L)).as("best_match"))
  }

  /** EVAL-SIDE CONTAMINATION REPORT — [[decontaminate]] flipped: that
    * operator flags CORPUS docs carrying benchmark shingles (drop them
    * from training); this one tells the EVAL OWNER which benchmark
    * items are compromised and how badly — per eval item: its shingle
    * count, how many of those shingles exist anywhere in the corpus,
    * how many distinct corpus docs share ≥1 shingle, coverage ppm, and
    * the ≥50% compromised flag (integer ×2 comparison, no float). The
    * two faces together are the full decontamination loop: clean the
    * corpus AND drop the leaked eval items the cleaning missed.
    * Plan: the eval side broadcasts (benchmarks are KB-sized); the
    * coverage probe is a semi join against the corpus shingle set. */
  def evalContamination(spark: SparkSession, dir: String): DataFrame = {
    // Checkpointed (r19): bench is consumed three times and corpus
    // twice, and each consumer re-ran the text scan + Shingles kernel
    // (5 documents scans in the before-plan) — one materialization of
    // the index serves all five. The tiny per-eval joins below are
    // broadcast-pinned (stats-less post-checkpoint).
    val ex = shingleIndex(spark, dir).localCheckpoint()
    val bench = ex.filter(col("doc_id") < 20)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    val corpus = ex.filter(col("doc_id") >= 20)
    val cov = bench
      .join(corpus.select("shingle").distinct(), Seq("shingle"),
        "left_semi")
      .groupBy("eval_id").agg(count(lit(1)).as("n_covered"))
    val hits = corpus.join(broadcast(bench), "shingle")
      .groupBy("eval_id").agg(countDistinct("doc_id").as("n_corpus_docs"))
    bench.groupBy("eval_id").agg(count(lit(1)).as("n_shingles"))
      .join(broadcast(cov), Seq("eval_id"), "left")
      .join(broadcast(hits), Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_shingles"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"),
        expr("CAST(coalesce(n_covered, 0) * 1000000 div n_shingles" +
          " AS BIGINT)").as("covered_ppm"),
        expr("coalesce(n_covered, 0) * 2 >= n_shingles")
          .as("compromised"))
  }

  /** N-GRAM DUPLICATION-RATE CURVE (n ∈ {1, 2, 4, 8}): corpus-level
    * (total n-gram instances, distinct n-grams, duplicated fraction in
    * exact ppm) at each granularity — the first-read profile of HOW a
    * corpus is duplicated (high dup at n=1 is vocabulary concentration
    * — Zipf, not duplication; high dup persisting to n=8 is verbatim
    * repetition, the signal the span-level dedup operators act on).
    * One explode + map-side-combined count-distinct pass per n, each
    * arm independent (no barrier). */
  def dupRateCurve(spark: SparkSession, dir: String): DataFrame = {
    // Measured NEGATIVE (r19): fusing the four arms into one scan
    // (per-row array of four tagged shingle arrays, double explode,
    // one groupBy(n) + countDistinct) A/B'd +28% against a DOWNWARD-
    // drifting control window — materializing all four shingle arrays
    // per row and pushing 4n rows through one distinct pipeline costs
    // more than the three parquet text reads it saves (the text scan
    // is cheap next to the shingle kernel + distinct shuffle). The
    // four independent arms also parallelize as separate jobs.
    Seq(1, 2, 4, 8).map { n =>
      Tables.documents(spark, dir)
        .select(explode(ShinglesAll(col("text"), n)).as("g"))
        .agg(count(lit(1)).as("total"),
          countDistinct(col("g")).as("n_distinct"))
        .select(lit(n).as("n"), col("total"), col("n_distinct"),
          expr("CAST((total - n_distinct) * 1000000 div total" +
            " AS BIGINT)").as("dup_ppm"))
    }.reduce(_ unionByName _)
  }

  /** MinHash-LSH DETECTION-PROBABILITY PLANNER for THIS engine's band
    * configuration (b = 16 bands × r = 2 rows — [[bandTableOf]]): the
    * operating curve p(s) = 1 − (1 − s²)¹⁶ at Jaccard similarity
    * s ∈ {0.50 … 0.95}, in exact ppm via the iterated scaled product
    * (acc ← acc·q div 10⁶, q = 10⁶ − s²; floor at every step, so both
    * engines replay the identical integer sequence). The table an
    * operator reads before trusting the ≥2-band rule: where the curve
    * crosses ~½ is the family's similarity threshold (~(1/b)^(1/r) ≈
    * 0.25 for ONE band; the shipped ≥2-band verify shifts it right).
    * Data-free planning math — the expected-recall face of the dedup
    * family ([[dedupEval]] measures the realized recall). */
  def lshCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val acc = (1 to 16).foldLeft("1000000") { (a, _) =>
      s"(($a) * (1000000 - s_milli * s_milli) div 1000000)"
    }
    (500L to 950L by 50L).toDF("s_milli")
      .select(col("s_milli"), lit(16).as("bands"),
        lit(2).as("rows_per_band"),
        expr(s"CAST(1000000 - $acc AS BIGINT)").as("p_detect_ppm"))
  }

  /** CROSS-SOURCE CONTAMINATION MATRIX — which corpus sources share
    * near-duplicate content: per unordered source pair, the number of
    * near-dup clusters (persisted [[ccLabels]] artifact) containing at
    * least one document from EACH side. The report a corpus curator
    * reads before mixing sources (shared boilerplate between two
    * crawls inflates both; a benchmark source sharing clusters with a
    * training source is leakage). Work: one |cluster-member|-row join
    * to the doc→source map, then pair algebra on the distinct
    * (cluster, source) table — bounded by clusters × sources, never
    * docs². */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val members = ccLabels(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), "doc_id")
      .select("cluster_id", "source").distinct()
    members.as("a")
      .join(members.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_clusters"))
  }

  /** Winnowing parameters: word K-grams, window of W consecutive gram
    * hashes → any verbatim run of ≥ W+K-1 = 7 words shared by two
    * documents is guaranteed to yield a shared fingerprint. */
  private val WinnowK = 4
  private val WinnowW = 4

  /** Winnowing fingerprint set per document — Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting"
    * (SIGMOD'03, the MOSS algorithm): hash every word K-gram, slide a
    * window of W consecutive hashes along the document, and keep each
    * window's MINIMUM hash. The kept set has expected density 2/(W+1)
    * of the gram hashes, yet unlike random sampling it carries a
    * detection GUARANTEE: every verbatim overlap of at least W+K-1
    * words produces at least one shared fingerprint, because both
    * documents see the same W-window of hashes somewhere inside the run
    * and pick the same minimum. Gram hash is the md5-prefix integer
    * (the engine-portable deterministic hash all samplers here use).
    *
    * Scale: the min/count windows are PARTITIONED by doc_id — partition
    * size is bounded by document length, never corpus size — and
    * everything downstream of them touches only the ~2/(W+1) sample.
    * At 100 TB the fingerprint set is the persisted matching index:
    * ~2.5× smaller than the full positional shingle index while keeping
    * the ≥7-word detection floor.
    */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(0, WinnowW - 1)
    docs
      .select(col("doc_id"),
        posexplode(ShinglesAll(col("text"), WinnowK)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        expr("CAST(conv(substr(md5(sh), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .withColumn("m", min("h").over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("cnt") === WinnowW)
      .select(col("doc_id"), col("m").as("fp")).distinct()
  }

  /** Cross-document overlap pairs from winnowing fingerprints: an
    * equi-join on the fingerprint hash (only docs sharing a sampled
    * hash ever meet — never n² pairs), aggregated to shared-fingerprint
    * counts with an exact micro-unit overlap estimate. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the fingerprint set ONCE — it is consumed four ways
    // (both join sides, both size lookups), and without the cut each
    // branch re-runs the scan + gram hash + windows. At 100 TB this
    // localCheckpoint is the persisted fingerprint-index parquet (same
    // role as ppjoin's ranked-index checkpoint).
    val fp = winnowFingerprints(Tables.documents(spark, dir)).localCheckpoint()
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= 2)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_i")
        .withColumnRenamed("n", "fp_i"), "doc_i")
      .join(sizes.withColumnRenamed("doc_id", "doc_j")
        .withColumnRenamed("n", "fp_j"), "doc_j")
      .selectExpr("doc_i", "doc_j", "CAST(fp_i AS BIGINT) AS fp_i",
        "CAST(fp_j AS BIGINT) AS fp_j", "shared_fp",
        "shared_fp * 1000000 div (fp_i + fp_j - shared_fp) AS overlap_micro")
  }

  /** Dedup THRESHOLD-SENSITIVITY sweep: near-dup pair count and
    * docs-with-a-more-senior-duplicate count at Jaccard τ ∈
    * {0.5 … 0.9}, all five operating points read off ONE candidate
    * pass (the pair table is computed once; each τ is a filter over
    * it). This is the tuning audit run before committing a dedup
    * threshold at corpus scale — how many docs each candidate τ would
    * drop — where re-running the full dedup per τ would quintuple the
    * dominant join. `n_docs_dropped` counts docs with at least one
    * LOWER-id near-dup at that τ (the SemDeDup keep-the-senior rule;
    * doc_j > doc_i by construction so distinct doc_j is exactly that
    * set).
    *
    * Candidates come from the PPJoin prefix filter at the sweep's
    * τ = 0.5 FLOOR — lossless there (every pair with J ≥ 0.5 collides
    * inside the df-ascending prefixes), hence exact at every swept τ,
    * with the oracle unchanged — NOT from the Σdf²-exposed all-pairs
    * shingle self-join ([[jaccardPairs]]) the sweep used to ride: at
    * corpus scale one boilerplate shingle shared by 10⁶ docs makes the
    * all-pairs form 10¹² candidate rows, while the prefix filter keeps
    * candidate volume tied to genuinely-rare shingle collisions. Serves
    * from the same persisted ranked index as [[ppjoinPairs]]. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ranked = spark.read.parquet(RankedIndex.path(spark, dir))
    jaccardVerifyFromSets(
        countFilteredCandidates(ranked, tNum = 1, tDen = 2),
        spark.read.parquet(DocSets.path(spark, dir)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_j"), col("jaccard"),
        explode(array(Seq(50, 60, 70, 80, 90).map(lit(_)): _*)).as("tau_pct"))
      .filter(col("jaccard") >= col("tau_pct").cast("double") / 100.0)
      .groupBy("tau_pct")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("doc_j").as("n_docs_dropped"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_sweep" -> dedupThresholdSweep,
    "q_incremental_minhash" -> incrementalMinhash,
    "q_winnow_pairs" -> winnowPairs,
    "q_er_parts" -> erParts,
    "q_linkage_weights" -> linkageWeights,
    "q_linkage_em" -> ((s, d) => linkageEm(s, d)),
    "q_lsh_tuning" -> lshTuning,
    "q_canonical_docs" -> canonicalDocs,
    "q_golden_record" -> goldenRecord,
    "q_decontaminate" -> decontaminate,
    "q_dup_clusters" -> dupClusters,
    "q_cross_source_dups" -> crossSourceDups,
    "q_dup_rate_curve" -> dupRateCurve,
    "q_lsh_curve" -> lshCurve,
    "q_eval_contamination" -> evalContamination,
    "q_leakage_safe_split" -> leakageSafeSplit,
    "q_kfold_split" -> ((s, d) => kfoldSplit(s, d)),
    "q_dedup_exact" -> dedupExact,
    "q_incremental_dedup" -> incrementalDedup,
    "q_bloom_probe" -> bloomProbe,
    "q_editdist_join" -> editDistanceJoin,
    "q_dedup_eval" -> dedupEval,
    "q_ngram_jaccard_pairs" -> ngramJaccardPairs,
    "q_ppjoin_pairs" -> ppjoinPairs,
    "q_containment_pairs" -> containmentPairs,
    "q_dedup_minhash" -> dedupMinhash,
    "q_simhash_docs" -> simhashDocs,
    "q_simhash_pairs" -> simhashPairs)

  /** Oracle for [[linkageEm]]: the 8-cell aggregate + EM rounds
    * unrolled as CTEs, every probability the same ppm floor-div. */
  private def linkageEmSql(rounds: Int): String = {
    def f(g: String, v: String) =
      s"(CASE WHEN c.$g = 1 THEN pr.$v ELSE 1000000 - pr.$v END)"
    val roundCtes = (1 to rounds).map { r =>
      def msum(gate: String, weight: String) =
        s"sum(CASE WHEN $gate THEN CAST(n AS HUGEINT) * ($weight)" +
          s" ELSE 0 END)"
      s"""w$r AS (
         |  SELECT gt, gp, gl, n,
         |         CAST(num * 1000000 // (num + den) AS BIGINT) AS w
         |  FROM (
         |    SELECT c.gt, c.gp, c.gl, c.n,
         |           CAST(pr.p AS HUGEINT) * ${f("gt", "m1")}
         |             * ${f("gp", "m2")} * ${f("gl", "m3")} AS num,
         |           CAST(1000000 - pr.p AS HUGEINT) * ${f("gt", "u1")}
         |             * ${f("gp", "u2")} * ${f("gl", "u3")} AS den
         |    FROM cells c CROSS JOIN pr${r - 1} pr) t),
         |pr$r AS (
         |  SELECT CAST(${msum("true", "w")} // sum(n) AS BIGINT) AS p,
         |         CASE WHEN ${msum("true", "w")} = 0 THEN NULL ELSE
         |           CAST(${msum("gt = 1", "w")} * 1000000
         |             // ${msum("true", "w")} AS BIGINT) END AS m1,
         |         CASE WHEN ${msum("true", "w")} = 0 THEN NULL ELSE
         |           CAST(${msum("gp = 1", "w")} * 1000000
         |             // ${msum("true", "w")} AS BIGINT) END AS m2,
         |         CASE WHEN ${msum("true", "w")} = 0 THEN NULL ELSE
         |           CAST(${msum("gl = 1", "w")} * 1000000
         |             // ${msum("true", "w")} AS BIGINT) END AS m3,
         |         CASE WHEN ${msum("true", "1000000 - w")} = 0 THEN NULL
         |           ELSE CAST(${msum("gt = 1", "1000000 - w")} * 1000000
         |             // ${msum("true", "1000000 - w")} AS BIGINT) END
         |           AS u1,
         |         CASE WHEN ${msum("true", "1000000 - w")} = 0 THEN NULL
         |           ELSE CAST(${msum("gp = 1", "1000000 - w")} * 1000000
         |             // ${msum("true", "1000000 - w")} AS BIGINT) END
         |           AS u2,
         |         CASE WHEN ${msum("true", "1000000 - w")} = 0 THEN NULL
         |           ELSE CAST(${msum("gl = 1", "1000000 - w")} * 1000000
         |             // ${msum("true", "1000000 - w")} AS BIGINT) END
         |           AS u3
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT p_partkey, p_brand, p_size, lower(p_name) AS name,
       |         p_type, CAST(round(p_retailprice * 100, 0) AS BIGINT)
       |           AS cents
       |  FROM part),
       |cells AS (
       |  SELECT CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS gt,
       |         CASE WHEN abs(a.cents - b.cents) <= 100
       |           THEN 1 ELSE 0 END AS gp,
       |         CASE WHEN length(a.name) = length(b.name)
       |           THEN 1 ELSE 0 END AS gl,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM p a JOIN p b
       |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       |   AND a.p_partkey < b.p_partkey
       |   AND abs(length(a.name) - length(b.name)) <= 4
       |  GROUP BY 1, 2, 3),
       |pr0 AS (SELECT 100000 AS p, 900000 AS m1, 900000 AS m2,
       |               900000 AS m3, 100000 AS u1, 100000 AS u2,
       |               100000 AS u3),
       |$roundCtes,
       |melt AS (
       |  SELECT 'type' AS field, m1 AS m_ppm, u1 AS u_ppm,
       |         p AS p_match_ppm FROM pr$rounds
       |  UNION ALL
       |  SELECT 'price_within_1', m2, u2, p FROM pr$rounds
       |  UNION ALL
       |  SELECT 'name_len', m3, u3, p FROM pr$rounds)
       |SELECT field, m_ppm, u_ppm, p_match_ppm,
       |       CASE WHEN u_ppm IS NULL OR u_ppm = 0 OR m_ppm IS NULL
       |         THEN NULL ELSE CAST(CAST(m_ppm AS HUGEINT) * 1000
       |           // u_ppm AS BIGINT) END AS lr_milli
       |FROM melt""".stripMargin
  }

  /** Oracle for [[lshTuning]]: brute-force exact pairs (the lossless
    * anchor) + the same iterated-floor milli powers with `//`. */
  private lazy val lshTuningSql: String = {
    def powMilli(base: String, e: Int): String =
      (2 to e).foldLeft(base)((acc, _) => s"(($acc) * ($base) // 1000)")
    val probCols = LshConfigs.map { case (b, r) =>
      val pb = powMilli("s_milli", r)
      s"1000 - ${powMilli(s"(1000 - ($pb))", b)} AS p_b${b}_r$r"
    }.mkString(",\n|         ")
    val sums = LshConfigs.map { case (b, r) =>
      s"sum(p_b${b}_r$r) AS s_b${b}_r$r"
    }.mkString(", ")
    val finals = LshConfigs.map { case (b, r) =>
      s"""SELECT 'b${b}_r$r' AS config, CAST($b AS INT) AS bands,
         |       CAST($r AS INT) AS rows_per_band,
         |       n_true_pairs,
         |       CAST(s_b${b}_r$r * 1000 // n_true_pairs AS BIGINT)
         |         AS expected_recall_ppm
         |FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
       |  FROM documents
       |  WHERE length(regexp_split_to_array(lower(text), '\\s+')) >= 3),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
       |  FROM t),
       |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |sizes AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh),
       |shared AS (
       |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sm AS (
       |  SELECT CAST(shared * 1000
       |           // (si.n_shingles + sj.n_shingles - shared) AS BIGINT)
       |           AS s_milli
       |  FROM shared
       |  JOIN sizes si ON doc_i = si.doc_id
       |  JOIN sizes sj ON doc_j = sj.doc_id),
       |probs AS (
       |  SELECT $probCols
       |  FROM sm WHERE s_milli >= 700),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, $sums
       |        FROM probs)
       |$finals""".stripMargin
  }

  private[operators] val jaccardPairsSql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |  FROM documents WHERE length(regexp_split_to_array(lower(text), '\s+')) >= 3),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
      |  FROM t),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |sizes AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh),
      |shared AS (
      |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
      |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_i, doc_j, shared,
      |       CAST(shared AS DOUBLE) / (si.n_shingles + sj.n_shingles - shared) AS jaccard
      |FROM shared
      |JOIN sizes si ON doc_i = si.doc_id
      |JOIN sizes sj ON doc_j = sj.doc_id""".stripMargin

  private val simhashDocsSql = {
    val bitSums = (0 until 48).map { b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b"
    }.mkString(",\n    ")
    val bits = (0 until 48).map { b =>
      s"CASE WHEN s_$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END"
    }.mkString(" + ")
    s"""WITH th AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |        FROM documents)),
       |sums AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM th GROUP BY doc_id)
       |SELECT doc_id, $bits AS simhash FROM sums""".stripMargin
  }

  /** Winnowing oracle, generated from the same K/W the operator uses
    * (w[i:i+K-1] is DuckDB's inclusive 1-based slice; pos arithmetic
    * replays `shingles_all`'s 0-based positions). */
  private def winnowPairsSql: String = {
    val k = WinnowK; val w = WinnowW
    s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
       |           FROM documents),
       |occ AS (SELECT doc_id, i - 1 AS pos,
       |               list_aggregate(w[i:i+${k - 1}], 'string_agg', ' ') AS sh
       |        FROM t, unnest(range(1, len(w) - ${k - 2})) AS u(i)),
       |h AS (SELECT doc_id, pos,
       |             CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
       |      FROM occ),
       |wm AS (SELECT doc_id,
       |              min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS m,
       |              count(*) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS cnt
       |       FROM h),
       |fp AS (SELECT DISTINCT doc_id, m FROM wm WHERE cnt = $w),
       |sz AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY 1),
       |p AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
       |      FROM fp a JOIN fp b ON a.m = b.m AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_i, doc_j, CAST(si.n AS BIGINT) AS fp_i,
       |       CAST(sj.n AS BIGINT) AS fp_j,
       |       CAST(shared AS BIGINT) AS shared_fp,
       |       CAST(shared * 1000000 // (si.n + sj.n - shared) AS BIGINT)
       |         AS overlap_micro
       |FROM p JOIN sz si ON p.doc_i = si.doc_id
       |       JOIN sz sj ON p.doc_j = sj.doc_id
       |WHERE shared >= 2""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Cross-set exact Jaccard at the verify threshold — the banding's
    // per-group recall guarantee (same basis as q_dedup_minhash) makes
    // the probe's verified output equal the exact answer.
    "q_incremental_minhash" ->
      s"""WITH jp AS (SELECT * FROM ($jaccardPairsSql) q WHERE jaccard >= 0.8),
         |m AS (SELECT CASE WHEN doc_i % 5 = 4 THEN doc_i ELSE doc_j END
         |               AS doc_id,
         |             CASE WHEN doc_i % 5 = 4 THEN doc_j ELSE doc_i END
         |               AS other
         |      FROM jp WHERE (doc_i % 5 = 4) <> (doc_j % 5 = 4)),
         |agg AS (SELECT doc_id, min(other) AS best_match,
         |               count(*) AS n_matches
         |        FROM m GROUP BY 1),
         |batch AS (SELECT doc_id FROM documents
         |          WHERE doc_id % 5 = 4 AND
         |            length(regexp_split_to_array(lower(text), '\\s+')) >= 3)
         |SELECT b.doc_id,
         |       CASE WHEN a.doc_id IS NULL THEN 'new'
         |            ELSE 'near_dup_of_index' END AS verdict,
         |       CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
         |       CAST(coalesce(a.best_match, -1) AS BIGINT) AS best_match
         |FROM batch b LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q_winnow_pairs" -> winnowPairsSql,
    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents WHERE length(regexp_split_to_array(lower(text), '\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id < 20),
        |corpus AS (SELECT * FROM ex WHERE doc_id >= 20),
        |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
        |hits AS (SELECT c.doc_id, count(*) AS n_shared
        |         FROM corpus c JOIN bench b USING (shingle) GROUP BY 1)
        |SELECT h.doc_id, h.n_shared, CAST(s.n_shingles AS BIGINT) AS n_shingles,
        |       CAST(h.n_shared AS DOUBLE) / s.n_shingles AS overlap_frac,
        |       CAST(h.n_shared AS DOUBLE) / s.n_shingles >= 0.5 AS contaminated
        |FROM hits h JOIN sizes s USING (doc_id)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        |       min(doc_id) AS keep_doc_id,
        |       count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin,
    "q_editdist_join" ->
      """SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
        |       CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1""".stripMargin,
    "q_bloom_probe" ->
      """WITH canon AS (
        |  SELECT doc_id,
        |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |           AS content_hash
        |  FROM documents),
        |batch AS (SELECT doc_id, content_hash FROM canon WHERE doc_id % 5 = 4),
        |idx AS (SELECT DISTINCT content_hash FROM canon WHERE doc_id % 5 <> 4),
        |hpos AS (
        |  SELECT CAST(('0x' || substr(md5(content_hash || '#' || i), 1, 12))
        |              AS BIGINT) % 16384 AS pos
        |  FROM idx, (SELECT unnest([0, 1, 2]) AS i)),
        |words AS (
        |  SELECT pos // 32 AS w,
        |         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bw
        |  FROM hpos GROUP BY 1),
        |ppos AS (
        |  SELECT b.doc_id, b.content_hash,
        |         CAST(('0x' || substr(md5(b.content_hash || '#' || i), 1, 12))
        |              AS BIGINT) % 16384 AS pos
        |  FROM batch b, (SELECT unnest([0, 1, 2]) AS i)),
        |hits AS (
        |  SELECT doc_id, content_hash,
        |         count(*) FILTER (WHERE
        |           (bw & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)))
        |             = (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) AS nset
        |  FROM ppos LEFT JOIN words ON pos // 32 = w
        |  GROUP BY 1, 2)
        |SELECT h.doc_id, h.nset = 3 AS bloom_pass,
        |       CASE WHEN h.nset = 3 AND i.content_hash IS NOT NULL
        |            THEN 'dup_of_index' ELSE 'new' END AS verdict
        |FROM hits h
        |LEFT JOIN idx i ON h.content_hash = i.content_hash""".stripMargin,
    "q_incremental_dedup" ->
      """WITH canon AS (
        |  SELECT doc_id,
        |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |           AS content_hash
        |  FROM documents),
        |batch AS (SELECT * FROM canon WHERE doc_id % 5 = 4),
        |idx AS (SELECT DISTINCT content_hash FROM canon WHERE doc_id % 5 <> 4),
        |firsts AS (SELECT content_hash, min(doc_id) AS first_doc
        |           FROM batch GROUP BY 1)
        |SELECT b.doc_id, b.content_hash,
        |       CASE WHEN i.content_hash IS NOT NULL THEN 'dup_of_index'
        |            WHEN b.doc_id > f.first_doc THEN 'dup_in_batch'
        |            ELSE 'new' END AS verdict
        |FROM batch b
        |LEFT JOIN idx i ON b.content_hash = i.content_hash
        |JOIN firsts f ON b.content_hash = f.content_hash""".stripMargin,
    "q_ngram_jaccard_pairs" ->
      s"SELECT * FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8",
    "q_dedup_sweep" ->
      s"""SELECT tau_pct, count(*) AS n_pairs,
         |       count(DISTINCT doc_j) AS n_docs_dropped
         |FROM ($jaccardPairsSql) jp,
         |     (SELECT unnest([50, 60, 70, 80, 90]) AS tau_pct) t
         |WHERE jaccard >= tau_pct / 100.0
         |GROUP BY 1""".stripMargin,
    // Prefix filtering is lossless, so the brute-force all-pairs SQL is
    // an exact oracle (not a recall bound) — that's the PPJoin point.
    "q_ppjoin_pairs" ->
      s"SELECT * FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.7",
    "q_containment_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents
        |  WHERE length(regexp_split_to_array(lower(text), '\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh),
        |shared AS (
        |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT CASE WHEN si.n_shingles < sj.n_shingles OR
        |                   (si.n_shingles = sj.n_shingles AND doc_i < doc_j)
        |              THEN doc_i ELSE doc_j END AS doc_small,
        |         CASE WHEN si.n_shingles < sj.n_shingles OR
        |                   (si.n_shingles = sj.n_shingles AND doc_i < doc_j)
        |              THEN doc_j ELSE doc_i END AS doc_big,
        |         least(si.n_shingles, sj.n_shingles) AS n_small,
        |         greatest(si.n_shingles, sj.n_shingles) AS n_big,
        |         CAST(shared AS BIGINT) AS shared
        |  FROM shared
        |  JOIN sizes si ON doc_i = si.doc_id
        |  JOIN sizes sj ON doc_j = sj.doc_id)
        |SELECT doc_small, doc_big, CAST(n_small AS BIGINT) AS n_small,
        |       CAST(n_big AS BIGINT) AS n_big, shared,
        |       CAST(CAST(shared AS HUGEINT) * 1000000 // n_small AS BIGINT)
        |         AS containment_ppm
        |FROM dir
        |WHERE CAST(shared AS HUGEINT) * 1000000 // n_small >= 800000"""
        .stripMargin,
    "q_dedup_minhash" ->
      s"SELECT * FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8",
    "q_linkage_em" -> linkageEmSql(EmRounds),
    "q_lsh_tuning" -> lshTuningSql,
    "q_linkage_weights" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_size, lower(p_name) AS name,
        |         p_type, CAST(round(p_retailprice * 100, 0) AS BIGINT)
        |           AS cents
        |  FROM part),
        |pairs AS (
        |  SELECT levenshtein(a.name, b.name) <= 1 AS is_match,
        |         a.p_type = b.p_type AS ag_type,
        |         abs(a.cents - b.cents) <= 100 AS ag_price,
        |         length(a.name) = length(b.name) AS ag_len
        |  FROM p a JOIN p b
        |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |   AND a.p_partkey < b.p_partkey
        |   AND abs(length(a.name) - length(b.name)) <= 4),
        |agg AS (
        |  SELECT CAST(count(CASE WHEN is_match THEN 1 END) AS BIGINT)
        |           AS n_m,
        |         CAST(count(CASE WHEN NOT is_match THEN 1 END) AS BIGINT)
        |           AS n_u,
        |         CAST(count(CASE WHEN is_match AND ag_type THEN 1 END)
        |           AS BIGINT) AS t_m,
        |         CAST(count(CASE WHEN NOT is_match AND ag_type THEN 1 END)
        |           AS BIGINT) AS t_u,
        |         CAST(count(CASE WHEN is_match AND ag_price THEN 1 END)
        |           AS BIGINT) AS p_m,
        |         CAST(count(CASE WHEN NOT is_match AND ag_price THEN 1 END)
        |           AS BIGINT) AS p_u,
        |         CAST(count(CASE WHEN is_match AND ag_len THEN 1 END)
        |           AS BIGINT) AS l_m,
        |         CAST(count(CASE WHEN NOT is_match AND ag_len THEN 1 END)
        |           AS BIGINT) AS l_u
        |  FROM pairs),
        |melt AS (
        |  SELECT 'type' AS field, t_m AS a_m, t_u AS a_u, n_m, n_u FROM agg
        |  UNION ALL
        |  SELECT 'price_within_1', p_m, p_u, n_m, n_u FROM agg
        |  UNION ALL
        |  SELECT 'name_len', l_m, l_u, n_m, n_u FROM agg),
        |rates AS (
        |  SELECT field, n_m, n_u,
        |         CAST(CASE WHEN n_m = 0 THEN NULL
        |           ELSE a_m * 1000000 // n_m END AS BIGINT) AS m_ppm,
        |         CAST(CASE WHEN n_u = 0 THEN NULL
        |           ELSE a_u * 1000000 // n_u END AS BIGINT) AS u_ppm
        |  FROM melt)
        |SELECT field, n_m, n_u, m_ppm, u_ppm,
        |       CAST(CASE WHEN u_ppm IS NULL OR u_ppm = 0 OR m_ppm IS NULL
        |         THEN NULL ELSE
        |         CAST(m_ppm AS HUGEINT) * 1000 // u_ppm END AS BIGINT)
        |         AS lr_milli
        |FROM rates""".stripMargin,
    "q_er_parts" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_size, lower(p_name) AS name
        |  FROM part)
        |SELECT a.p_partkey AS part_i, b.p_partkey AS part_j,
        |       a.p_brand AS brand, a.p_size AS size,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        | AND abs(length(a.name) - length(b.name)) <= 4
        |WHERE levenshtein(a.name, b.name) <= 8""".stripMargin,
    "q_golden_record" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |         FROM walk GROUP BY 1),
         |sized AS (
         |  SELECT doc_id, cluster_id,
         |         count(*) OVER (PARTITION BY cluster_id) AS csize
         |  FROM comp),
         |mem AS (
         |  SELECT s.cluster_id, s.doc_id, s.csize, d.lang, d.source,
         |         CAST(len(regexp_split_to_array(lower(d.text), '\\s+'))
         |           AS BIGINT) AS n_tokens
         |  FROM sized s JOIN documents d USING (doc_id)
         |  WHERE s.csize >= 2),
         |ml AS (SELECT cluster_id, lang AS modal_lang FROM (
         |         SELECT cluster_id, lang, row_number() OVER (
         |           PARTITION BY cluster_id
         |           ORDER BY count(*) DESC, lang) AS rk
         |         FROM mem GROUP BY cluster_id, lang) t WHERE rk = 1),
         |ms AS (SELECT cluster_id, source AS modal_source FROM (
         |         SELECT cluster_id, source, row_number() OVER (
         |           PARTITION BY cluster_id
         |           ORDER BY count(*) DESC, source) AS rk
         |         FROM mem GROUP BY cluster_id, source) t WHERE rk = 1),
         |base AS (
         |  SELECT cluster_id, CAST(max(csize) AS BIGINT) AS cluster_size,
         |         min(doc_id) AS record_key,
         |         CAST(max(n_tokens) AS BIGINT) AS best_tokens
         |  FROM mem GROUP BY 1)
         |SELECT b.cluster_id, b.cluster_size, b.record_key,
         |       b.best_tokens, ml.modal_lang, ms.modal_source
         |FROM base b JOIN ml USING (cluster_id)
         |JOIN ms USING (cluster_id)""".stripMargin,
    "q_canonical_docs" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |         FROM walk GROUP BY 1),
         |sized AS (
         |  SELECT doc_id, cluster_id,
         |         count(*) OVER (PARTITION BY cluster_id) AS csize
         |  FROM comp),
         |tok AS (
         |  SELECT doc_id,
         |         length(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens
         |  FROM documents),
         |ranked AS (
         |  SELECT s.cluster_id, s.doc_id, s.csize, t.n_tokens,
         |         row_number() OVER (PARTITION BY s.cluster_id
         |           ORDER BY t.n_tokens DESC, s.doc_id) AS rk
         |  FROM sized s JOIN tok t USING (doc_id)
         |  WHERE s.csize >= 2)
         |SELECT cluster_id, doc_id AS canonical_doc,
         |       CAST(csize AS BIGINT) AS cluster_size,
         |       CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM ranked WHERE rk = 1""".stripMargin,
    "q_dedup_eval" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp0 WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |         FROM walk GROUP BY 1),
         |t2 AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
         |  FROM documents
         |  WHERE length(regexp_split_to_array(lower(text), '\\s+')) >= 3),
         |sizes2 AS (
         |  SELECT doc_id, len(list_distinct(list_transform(range(1, len(w) - 1),
         |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS n
         |  FROM t2),
         |jp2 AS (SELECT doc_i, doc_j, shared FROM ($jaccardPairsSql) q),
         |intra AS (
         |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, 'intra' AS kind
         |  FROM comp a JOIN comp b
         |    ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
         |reps AS (SELECT min(doc_id) AS doc_id FROM comp GROUP BY cluster_id),
         |ordr AS (
         |  SELECT doc_id, lead(doc_id) OVER (ORDER BY doc_id) AS nxt FROM reps),
         |inter AS (
         |  SELECT doc_id AS doc_i, nxt AS doc_j, 'inter' AS kind
         |  FROM ordr WHERE nxt IS NOT NULL),
         |pairs AS (SELECT * FROM intra UNION ALL SELECT * FROM inter),
         |scored AS (
         |  SELECT kind,
         |         (1000000 * COALESCE(j.shared, 0))
         |           // (si.n + sj.n - COALESCE(j.shared, 0)) AS jppm
         |  FROM pairs pr
         |  LEFT JOIN jp2 j ON pr.doc_i = j.doc_i AND pr.doc_j = j.doc_j
         |  JOIN sizes2 si ON pr.doc_i = si.doc_id
         |  JOIN sizes2 sj ON pr.doc_j = sj.doc_id)
         |SELECT kind, count(*) AS n_pairs,
         |       CAST(sum(jppm) // count(*) AS BIGINT) AS mean_jaccard_ppm,
         |       CAST(min(jppm) AS BIGINT) AS min_jaccard_ppm
         |FROM scored GROUP BY 1""".stripMargin,
    // Connected components as a recursive CTE: min reachable doc_id =
    // component minimum (UNION's set semantics terminates the walk).
    "q_dup_clusters" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |         FROM walk GROUP BY 1)
         |SELECT doc_id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |         AS cluster_size
         |FROM comp""".stripMargin,
    "q_eval_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents
        |  WHERE length(regexp_split_to_array(lower(text), '\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        |  FROM t),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |bench AS (SELECT doc_id AS eval_id, shingle FROM ex
        |          WHERE doc_id < 20),
        |corpus AS (SELECT * FROM ex WHERE doc_id >= 20),
        |cov AS (
        |  SELECT eval_id, CAST(count(*) AS BIGINT) AS n_covered
        |  FROM bench SEMI JOIN (SELECT DISTINCT shingle FROM corpus) cs
        |    ON bench.shingle = cs.shingle
        |  GROUP BY 1),
        |hits AS (
        |  SELECT b.eval_id,
        |         CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs
        |  FROM corpus c JOIN bench b ON c.shingle = b.shingle
        |  GROUP BY 1),
        |sizes AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_shingles
        |          FROM bench GROUP BY 1)
        |SELECT s.eval_id, s.n_shingles,
        |       coalesce(cov.n_covered, 0) AS n_covered,
        |       coalesce(h.n_corpus_docs, 0) AS n_corpus_docs,
        |       CAST(coalesce(cov.n_covered, 0) * 1000000 // s.n_shingles
        |         AS BIGINT) AS covered_ppm,
        |       coalesce(cov.n_covered, 0) * 2 >= s.n_shingles
        |         AS compromised
        |FROM sizes s
        |LEFT JOIN cov ON cov.eval_id = s.eval_id
        |LEFT JOIN hits h ON h.eval_id = s.eval_id""".stripMargin,
    "q_dup_rate_curve" ->
      Seq(1, 2, 4, 8).map { n =>
        val gram = (0 until n)
          .map(j => s"ws[i - ${n - 1 - j}]").mkString(" || ' ' || ")
        s"""SELECT CAST($n AS INT) AS n,
           |       CAST(count(*) AS BIGINT) AS total,
           |       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
           |       CAST((count(*) - count(DISTINCT g)) * 1000000
           |         // count(*) AS BIGINT) AS dup_ppm
           |FROM (
           |  SELECT unnest(list_transform(range($n, len(ws) + 1),
           |         i -> $gram)) AS g
           |  FROM (SELECT regexp_split_to_array(lower(text), '\\s+') AS ws
           |        FROM documents) t) gg""".stripMargin
      }.mkString("\nUNION ALL\n"),
    "q_lsh_curve" -> {
      val acc = (1 to 16).foldLeft("CAST(1000000 AS BIGINT)") { (a, _) =>
        s"(($a) * (1000000 - s_milli * s_milli) // 1000000)"
      }
      s"""SELECT s_milli, CAST(16 AS INT) AS bands,
         |       CAST(2 AS INT) AS rows_per_band,
         |       CAST(1000000 - $acc AS BIGINT) AS p_detect_ppm
         |FROM (SELECT CAST(unnest([500, 550, 600, 650, 700, 750, 800,
         |        850, 900, 950]) AS BIGINT) AS s_milli) s""".stripMargin
    },
    "q_cross_source_dups" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node AS doc_id, min(reach) AS cluster_id
         |         FROM walk GROUP BY 1),
         |members AS (
         |  SELECT DISTINCT c.cluster_id, d.source
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_clusters
         |FROM members a
         |JOIN members b ON a.cluster_id = b.cluster_id
         |  AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "q_kfold_split" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node, min(reach) AS cluster_id FROM walk GROUP BY 1),
         |assigned AS (
         |  SELECT d.doc_id, d.lang,
         |         CAST(length(regexp_split_to_array(lower(d.text), '\\s+'))
         |           AS BIGINT) AS toks,
         |         coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
         |SELECT CAST(CAST(('0x' ||
         |         substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
         |         AS BIGINT) % 5 AS INT) AS fold,
         |       lang, count(*) AS n_docs,
         |       count(DISTINCT cluster_id) AS n_clusters,
         |       CAST(sum(toks) AS BIGINT) AS n_tokens
         |FROM assigned
         |GROUP BY 1, 2""".stripMargin,
    "q_leakage_safe_split" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT doc_i, doc_j FROM ($jaccardPairsSql) jp WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT doc_i AS a, doc_j AS b FROM p
         |  UNION ALL SELECT doc_j, doc_i FROM p),
         |walk(node, reach) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.node),
         |comp AS (SELECT node, min(reach) AS cluster_id FROM walk GROUP BY 1),
         |assigned AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         |bucketed AS (
         |  SELECT doc_id, cluster_id,
         |         CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
         |              AS BIGINT) % 100 AS bucket
         |  FROM assigned)
         |SELECT CASE WHEN bucket < 90 THEN 'train'
         |            WHEN bucket < 95 THEN 'validation'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       count(DISTINCT cluster_id) AS n_clusters
         |FROM bucketed
         |GROUP BY 1""".stripMargin,
    "q_simhash_docs" -> simhashDocsSql,
    // Brute-force all-pairs hamming join — valid oracle because the
    // Spark side's 4×12-bit pigeonhole banding has recall exactly 1 at
    // hamming ≤ 3 (3 flips can touch at most 3 chunks).
    "q_simhash_pairs" ->
      s"""WITH sigs AS ($simhashDocsSql)
         |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin)
}
