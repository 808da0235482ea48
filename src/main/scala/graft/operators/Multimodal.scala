package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §2.3 row 42): media as opaque
  * `binary` columns with typed metadata, batch-oriented decode/feature
  * extraction over partitions.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * clearly-marked deterministic fake — but everything around it is the
  * real 100 TB shape: binary payload column + metadata, per-partition
  * batched processing (one decoder init per partition, not per row via
  * a row-wise UDF), explicit output schema, and repartitioning by a
  * size-balanced key before the expensive stage.
  */
object Multimodal {

  case class MediaRecord(
      media_id: Long, media_type: String, payload: Array[Byte],
      source: String, declared_bytes: Long)

  case class MediaFeatures(
      media_id: Long, media_type: String, payload_bytes: Long,
      width: Int, height: Int, channels: Int, checksum: String)

  /** The documents table as a media table: payload = utf-8 bytes. On a
    * real pipeline this column holds jpeg/wav/mp4 bytes read from object
    * storage; nothing downstream cares which.
    */
  def asMediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col("text"), "utf-8").as("payload"),
      col("source"),
      col("n_chars").as("declared_bytes"))

  /** CONTENT-ADDRESSED media dedup — exact dedup applied to the BINARY
    * payload column: blobs grouped by md5 of their bytes, reported per
    * media type as blob count, distinct payloads, duplicate groups and
    * the bytes a content-addressed store would save. On a real corpus
    * this is the dedup stage that runs BEFORE any decode (identical
    * jpeg bytes re-crawled from mirrors are the cheapest duplicates to
    * kill); the md5 key is also the store's address, so the report
    * doubles as the CAS ingest plan.
    *
    * Plan: one scan → md5 projection → (type, digest) map-side
    * combined aggregate → per-type rollup of the post-agg table. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = asMediaTable(spark, dir)
      .select(col("media_id"), col("media_type"), col("payload"))
    // Mirror re-crawl simulation (round-10 advice): the synthetic corpus
    // has no byte-identical payloads at the hash-swept SFs, which left
    // dup_groups/max_copies/dedup_saved_bytes vacuously zero — the exact
    // arithmetic this report exists for was never hash-checked. Every
    // 7th asset is re-ingested as a mirror copy (same bytes, new
    // media_id — what a second crawl of a mirrored host produces), on
    // BOTH the Spark and oracle sides, so the dedup columns are
    // non-trivial and hash-verified at every SF.
    val mirrored = base.filter(col("media_id") % 7 === 0)
    base.unionByName(mirrored)
      .select(col("media_type"), md5(col("payload")).as("digest"),
        length(col("payload")).cast("long").as("nbytes"))
      .groupBy("media_type", "digest")
      .agg(count(lit(1)).as("copies"), max("nbytes").as("nbytes"))
      .groupBy("media_type")
      .agg(sum("copies").as("n_blobs"),
        count(lit(1)).as("distinct_payloads"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_groups"),
        max("copies").as("max_copies"),
        sum((col("copies") - 1) * col("nbytes")).as("dedup_saved_bytes"))
  }

  /** STUB decoder — deterministic fake standing in for an image/audio
    * codec (none available in this container). Real implementation would
    * decode `payload` here; the surrounding plumbing stays identical.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    (1 + n % 64, 1 + (n / 64) % 64, 3)
  }

  /** Batched per-partition feature extraction: the decoder (stub) is
    * instantiated once per partition and fed the whole iterator — the
    * Scala analogue of a Pandas-UDF/mapInPandas batch loop.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      // per-partition init goes here (codec handles, model weights, ...)
      val digest = java.security.MessageDigest.getInstance("MD5")
      records.map { r =>
        val (w, h, c) = decodeStub(r.payload)
        digest.reset()
        val sum = digest.digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.media_id, r.media_type, r.payload.length.toLong, w, h, c, sum)
      }
    }
  }

  /** Oracle-checkable face: binary payload column through the batched
    * extractor, aggregated per media type. Proves the payload bytes,
    * stub geometry, and checksums all survive the binary plumbing.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = asMediaTable(spark, dir)
      .repartition(col("media_id")) // size-balanced ahead of the heavy stage
      .as[MediaRecord]
    extractFeatures(media).toDF()
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n_media"),
        sum("payload_bytes").as("total_bytes"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        countDistinct("checksum").as("distinct_payloads"))
  }

  /** Frame sampling: treat each video payload as fixed-size 256-char
    * frames, keep every 4th, fingerprint the sampled subsequence — the
    * video-decimation pass of a multimodal pipeline (sample frames
    * before the expensive per-frame model). Char-addressed (not byte)
    * so the oracle's VARCHAR slicing agrees on any encoding.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    asMediaTable(spark, dir)
      .filter(col("media_type") === "video")
      .select(col("media_id"), decode(col("payload"), "utf-8").as("txt"))
      .select(
        col("media_id"),
        ceil(length(col("txt")).cast("double") / 256).cast("long").as("n_frames"),
        // Guard the zero-frame case: Spark's sequence(0, -1) DESCENDS
        // ([0,-1] → n_sampled=1) while the oracle's range(0,0) is empty.
        expr("""CASE WHEN length(txt) = 0 THEN CAST(array() AS ARRAY<STRING>)
                ELSE transform(
                  filter(sequence(0, CAST(ceil(length(txt) / 256.0) AS INT) - 1),
                         i -> i % 4 = 0),
                  i -> substring(txt, i * 256 + 1, 256)) END""").as("sampled"))
      .select(col("media_id"), col("n_frames"),
        size(col("sampled")).as("n_sampled"),
        md5(concat_ws("", col("sampled"))).as("sample_digest"))

  /** Integrity audit: declared metadata vs actual payload bytes — the
    * truncated/corrupt-upload gate every binary ingest runs before
    * spending decode time. Pure per-row projection + one aggregate;
    * at scale this is a free rider on the ingest scan. (On this corpus
    * payloads are UTF-8 text, so byte length equals declared n_chars
    * exactly when the text is ASCII — the check also certifies that.) */
  def mediaIntegrity(spark: SparkSession, dir: String): DataFrame =
    asMediaTable(spark, dir)
      .select(col("media_type"),
        (length(col("payload")) === col("declared_bytes")).as("size_ok"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_media"),
        sum(when(col("size_ok"), 1L).otherwise(0L)).as("n_size_ok"),
        sum(when(!col("size_ok"), 1L).otherwise(0L)).as("n_mismatched"))

  /** Pixels in the perceptual hash's downsample grid (48 so the hash
    * fits the sign-safe 4×12-bit chunk scheme the simhash join uses). */
  private[graft] val PhashPixels = 48

  /** PERCEPTUAL-HASH NEAR-DUP for media — the content-level sibling of
    * [[mediaDedup]]'s exact byte dedup: re-encoded copies of an asset
    * (same picture, different bytes — a mirror's recompressed jpeg)
    * hash to NEARBY values instead of equal ones, so near-dup needs a
    * similarity join, not a digest groupBy. This is aHash (average
    * hash), the classic perceptual scheme: downsample the decoded
    * asset to [[PhashPixels]] luminance samples, threshold each
    * against the mean, pack the bits. Decode here is the stub
    * discipline of [[decodeStub]]: the "luminance samples" are strided
    * character codepoints of the payload (char-addressed like
    * [[frameSample]], so the DuckDB oracle agrees on any encoding) —
    * swap in a real codec and the hash, banding, join and verify are
    * unchanged. Re-encoded copies are planted deterministically (every
    * 11th asset re-ingested with its first character case-flipped —
    * one sample and the mean move slightly), and pairs come from the
    * proven pigeonhole shape: 4×12-bit chunk equi-join (3 bit flips
    * touch ≤ 3 chunks ⇒ recall exactly 1 for hamming ≤ 3), exact
    * popcount verify on candidates only — the all-pairs SQL is a true
    * oracle while Spark never materializes n² pairs.
    *
    * Scale shape: hashing is one codegen'd projection (the sample
    * array sits behind the optimizer barrier — its elements feed both
    * the mean and the 48 threshold bits, and inlining would explode
    * the substr count); candidates are a bucketed equi-join on
    * (chunk_idx, chunk_val); the verify is integer popcount per
    * candidate. */
  /** Degenerate-corpus output cap for [[mediaPhashPairs]]' hamming-0
    * populations: a group of byte-identical payloads above this size
    * stops emitting Σ group² pairs (the OUTPUT itself is the blowup at
    * a pathological 100 TB corpus of one repeated asset — 10k identical
    * payloads is ~50M pair rows) and emits the linear STAR expansion
    * around the group's min id instead — the same information content
    * (the transitive closure regenerates every pair; connected-
    * components consumers see identical clusters) in group_size−1 rows.
    * 1024 keeps every group at the tested SFs (where groups are single
    * digits) on the exact all-pairs oracle path. */
  private[graft] val PhashZeroGroupCap = 1024

  /** The checkpointed (ahash → ids) populations table both pHash faces
    * read: hash every asset (docs + planted re-encodes) with the aHash
    * chain and digest-group by the hash — one row per DISTINCT hash, so
    * everything downstream is bounded by the distinct-hash count. */
  private def phashGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), col("text"))
    // Planted re-encodes live in a DISJOINT id namespace: doc ids are
    // non-negative, so `-id - 1` can never collide with a real asset at
    // ANY corpus size (a fixed `+1e9` offset collides past 1e9 docs —
    // exactly the 100 TB regime this operator is for).
    val reenc = docs.filter(col("media_id") % 11 === 0)
      .select((-col("media_id") - 1L).as("media_id"),
        concat(upper(expr("substr(text, 1, 1)")),
          expr("substr(text, 2)")).as("text"))
    val px = (0 until PhashPixels).map(i =>
      expr(s"ascii(substr(text, CAST(1 + ($i * n) div $PhashPixels AS INT), 1))"))
    val ahash = (0 until PhashPixels).map { i =>
      when(expr(s"element_at(px, ${i + 1}) * $PhashPixels") > col("s"),
        lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    // (media_id, ahash) is |assets|-row; checkpoint it so the banding
    // self-join's two sides don't each replay the 48-sample chain.
    // (The r15 pre-collapse shape checkpointed (media_id, ahash) here so
    // the banding self-join's two sides shared one hash materialization;
    // the groupBy below now consumes the hash chain exactly ONCE, so the
    // groups checkpoint inherits that job and an extra checkpoint would
    // only add a materialization.)
    val hashed = docs.unionByName(reenc)
      .withColumn("n", length(col("text")).cast("long"))
      .withColumn("px",
        graft.functions.OptimizerBarrier(array(px: _*)))
      .withColumn("s", expr("aggregate(px, 0, (acc, x) -> acc + x)"))
      .select(col("media_id"), ahash.as("ahash"))
    // HASH-EQUAL COLLAPSE (r15 advice): a degenerate corpus (many empty
    // or byte-identical payloads) hashes whole populations to ONE ahash;
    // banding over raw assets would then put that population into every
    // one of its 4 band buckets and the self-join goes quadratic in
    // INPUT size with no cap. So the banding join only ever sees one row
    // per DISTINCT hash (the digest-groupBy discipline of mediaDedup):
    // hamming-0 pairs come from within-group expansion — Σ group² work,
    // which IS the output size, never an intermediate blowup — and
    // hamming 1..3 pairs from the distinct-hash banding join expanded
    // group×group afterward.
    hashed.groupBy("ahash")
      .agg(collect_list(col("media_id")).as("ids"))
      .localCheckpoint()
  }

  def mediaPhashPairs(spark: SparkSession, dir: String,
      zeroGroupCap: Int = PhashZeroGroupCap): DataFrame = {
    val groups = phashGroups(spark, dir)
    // Hamming-0 pairs: full pair expansion for normal groups (the exact
    // all-pairs oracle shape), STAR expansion around the min id for
    // groups above [[PhashZeroGroupCap]] — see the cap's scaladoc; the
    // quadratic blowup a degenerate corpus would otherwise EMIT (not
    // just compute) becomes linear, losing nothing a duplicate-cluster
    // consumer reads (same transitive closure).
    // No-silent-caps (r17 advice): every row carries a `capped` flag —
    // true iff the star/representative rewrite engaged for its group —
    // so a pair-counting consumer sees IN BAND that the output is the
    // transitive-closure-equivalent star, not the full pair expansion,
    // instead of silently under-counting. At the tested SFs (single-
    // digit groups) the flag is uniformly false and the output is the
    // exact all-pairs oracle shape.
    val multi = groups.filter(size(col("ids")) > 1)
    val zeroSmall = multi
      .filter(size(col("ids")) <= zeroGroupCap)
      .select(explode(col("ids")).as("media_i"), col("ids"))
      .select(col("media_i"), explode(col("ids")).as("media_j"))
      .filter(col("media_i") < col("media_j"))
      .select(col("media_i"), col("media_j"), lit(0).as("hamming"),
        lit(false).as("capped"))
    val zeroLarge = multi
      .filter(size(col("ids")) > zeroGroupCap)
      .select(array_min(col("ids")).as("media_i"),
        explode(col("ids")).as("media_j"))
      .filter(col("media_i") < col("media_j"))
      .select(col("media_i"), col("media_j"), lit(0).as("hamming"),
        lit(true).as("capped"))
    val zero = zeroSmall.unionByName(zeroLarge)
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk_idx"),
        expr(s"(ahash >> ${12 * c}) & 4095").as("chunk_val"))
    }
    // The banding join stays NARROW (ahash pairs only — band skew makes
    // candidate pairs plentiful, ~60× the distinct-hash count on this
    // corpus) and the popcount verify runs IN the join stage, before any
    // shuffle: the ≤3-hamming survivors are dozens, so the dedup
    // shuffles dozens of rows and the id lists re-attach afterward via
    // two joins against the tiny checkpointed groups table — never
    // dragging arrays through the 100×-bigger candidate stream.
    val exploded = groups
      .select(col("ahash"), explode(array(chunks: _*)).as("chunk"))
      .select(col("ahash"), col("chunk.chunk_idx"), col("chunk.chunk_val"))
    val cand = exploded.as("a")
      .join(exploded.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.ahash") < col("b.ahash"))
      .select(col("a.ahash").as("ha"), col("b.ahash").as("hb"),
        expr("bit_count(a.ahash ^ b.ahash)").as("hamming"))
      .filter(col("hamming").between(1, 3))
      .dropDuplicates("ha", "hb")
    // The 1..3-hamming group×group expansion gets the same cap: an
    // oversized group participates through its min-id REPRESENTATIVE
    // only (its members already star-link to that id in `zero`, so the
    // duplicate cluster stays connected), bounding small×LARGE at
    // |small| rows and LARGE×LARGE at one.
    val reps = groups.select(col("ahash"),
      when(size(col("ids")) > zeroGroupCap, array(array_min(col("ids"))))
        .otherwise(col("ids")).as("ids"),
      (size(col("ids")) > zeroGroupCap).as("was_capped"))
    val near = cand
      .join(reps.select(col("ahash").as("ha"), col("ids").as("ids_a"),
        col("was_capped").as("ca")), "ha")
      .join(reps.select(col("ahash").as("hb"), col("ids").as("ids_b"),
        col("was_capped").as("cb")), "hb")
      .select(explode(col("ids_a")).as("i"), col("ids_b"), col("hamming"),
        (col("ca") || col("cb")).as("capped"))
      .select(col("i"), explode(col("ids_b")).as("j"), col("hamming"),
        col("capped"))
      .select(least(col("i"), col("j")).as("media_i"),
        greatest(col("i"), col("j")).as("media_j"), col("hamming"),
        col("capped"))
    zero.unionByName(near)
  }

  /** Group-level face of the hamming-0 populations (the r16-verdict
    * report shape): one row per hash-equal population of at least
    * `minGroup` assets — (ahash, group_size, sample_ids) with
    * `sampleIds` smallest ids as the sample — ALWAYS bounded by the
    * distinct-hash count regardless of how degenerate the corpus is.
    * This is the triage view an operator reads FIRST at 100 TB ("which
    * populations collapsed, how big") before deciding whether to
    * materialize any pair expansion at all; [[mediaPhashPairs]] remains
    * the pair face with its own star-expansion cap. */
  def mediaPhashZeroGroups(spark: SparkSession, dir: String,
      minGroup: Int = 2, sampleIds: Int = 8): DataFrame =
    phashGroups(spark, dir)
      .filter(size(col("ids")) >= minGroup)
      .select(col("ahash"), size(col("ids")).as("group_size"),
        slice(array_sort(col("ids")), 1, sampleIds).as("sample_ids"))

  /** The staged blobs: one text file per document with doc_id < 20,
    * written by the text sink partitioned by doc_id. An ingest
    * fixture rather than an index, but it has the same lifecycle. */
  private[graft] val BinaryStage = graft.Indexes.Artifact("binfiles") {
    (spark, dir, out) =>
      Tables.documents(spark, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").partitionBy("doc_id").text(out)
  }

  /** `binaryFile` SOURCE ingest (§2.4): land per-document files on disk
    * (the object-store staging layout a media pipeline reads — one blob
    * per asset), ingest them with Spark's built-in `binaryFile` source,
    * and prove byte-faithful transport via per-file digests against the
    * parquet oracle. The read side is the real multimodal entry point:
    * (path, length, content) rows, pathGlobFilter-pruned, no codec
    * involved — at 100 TB this scan is the first stage ahead of
    * [[extractFeatures]], and `binaryFile`'s file-granularity splits
    * keep each blob intact (no mid-file record splitting to corrupt a
    * media payload). Files are written by the text sink partitioned by
    * doc_id (exactly one file per doc), so content is the utf-8 text
    * plus the sink's trailing newline — the oracle hashes the same
    * bytes. */
  def binaryIngest(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .option("recursiveFileLookup", "true")
      .load(BinaryStage.path(spark, dir))
      .select(
        regexp_extract(col("path"), "doc_id=([0-9]+)", 1)
          .cast("long").as("doc_id"),
        length(col("content")).as("n_bytes"),
        md5(col("content")).as("content_md5"))

  /** VOICE-ACTIVITY-DETECTION segmentation over the audio payloads —
    * the speech-pipeline pre-pass that turns raw audio into utterance
    * segments before any expensive ASR/embedding model sees it. The
    * payload is framed into fixed 64-char windows (char-addressed
    * like [[frameSample]] so the oracle's VARCHAR slicing agrees);
    * per-frame "energy" is the deterministic decode stand-in (count
    * of alphanumeric chars — a real deployment swaps in RMS energy
    * from the codec, every operator downstream unchanged); frames at
    * or above the threshold are voiced, and maximal voiced runs
    * become segments via gaps-and-islands (frame_idx − row_number),
    * the same distributed segmentation primitive as sessionization —
    * per-media windows only, never a global sort.
    *
    * Plan/scale shape: one scan → frame explode (payload-bounded) →
    * per-media partitioned window → (media, run) aggregate; segments
    * out ≤ frames/2. */
  def vadSegments(spark: SparkSession, dir: String,
      frameChars: Int = 64, minEnergy: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = asMediaTable(spark, dir)
      .filter(col("media_type") === "audio")
      .select(col("media_id"), decode(col("payload"), "utf-8").as("txt"))
      .select(col("media_id"), posexplode(expr(
        s"""CASE WHEN length(txt) = 0 THEN CAST(array() AS ARRAY<STRING>)
           |ELSE transform(
           |  sequence(0, CAST(ceil(length(txt) / $frameChars.0) AS INT) - 1),
           |  i -> substring(txt, i * $frameChars + 1, $frameChars)) END"""
          .stripMargin)).as(Seq("pos", "frame")))
      .select(col("media_id"), col("pos").cast("long").as("frame_idx"),
        length(regexp_replace(col("frame"), "[^A-Za-z0-9]", ""))
          .cast("long").as("energy"))
    frames.filter(col("energy") >= minEnergy)
      .withColumn("rn", row_number().over(
        Window.partitionBy("media_id").orderBy("frame_idx")))
      .withColumn("grp", col("frame_idx") - col("rn"))
      .groupBy("media_id", "grp")
      .agg(min("frame_idx").as("start_frame"),
        max("frame_idx").as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum("energy").as("energy_sum"))
      .select("media_id", "start_frame", "end_frame", "n_frames",
        "energy_sum")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_vad_segments" -> ((s, d) => vadSegments(s, d)),
    "q_media_features" -> mediaFeatures,
    "q_media_integrity" -> mediaIntegrity,
    "q_media_dedup" -> mediaDedup,
    "q_binary_ingest" -> ((s, d) => binaryIngest(s, d)),
    "q_media_phash" -> ((s, d) => mediaPhashPairs(s, d)),
    // The triage face as a hash-checked query (r17 verdict №6): the
    // sample-id array rides as a canonical comma-joined string so the
    // oracle compare is dtype-stable (arrays stringify differently
    // between a parquet read and a DuckDB list).
    "q_media_phash_zero_groups" -> ((s, d) =>
      mediaPhashZeroGroups(s, d).select(col("ahash"), col("group_size"),
        expr("array_join(transform(sample_ids, x -> CAST(x AS STRING)), ',')")
          .as("sample_ids"))),
    "q_frame_sample" -> frameSample)

  /** The aHash derivation as DuckDB SQL — same strided samples, same
    * mean threshold, same bit packing as [[mediaPhashPairs]]. */
  private def phashSql: String = {
    val pxList = (0 until PhashPixels).map(i =>
      s"ascii(substr(text, 1 + ($i * length(text)) // $PhashPixels, 1))")
      .mkString("[", ", ", "]")
    val bits = (0 until PhashPixels).map(i =>
      s"(CASE WHEN px[${i + 1}] * $PhashPixels > list_sum(px)" +
        s" THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id, text FROM documents
       |  UNION ALL
       |  SELECT -doc_id - 1, upper(substr(text, 1, 1)) || substr(text, 2)
       |  FROM documents WHERE doc_id % 11 = 0),
       |p AS (SELECT media_id, $pxList AS px FROM m),
       |h AS (SELECT media_id, $bits AS ahash FROM p)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Brute-force all-pairs is a TRUE oracle: pigeonhole banding has
    // recall exactly 1 at hamming ≤ 3 (same argument as simhash).
    "q_media_phash" ->
      // `capped` is uniformly false at the tested SFs (groups are
      // single digits, far under PhashZeroGroupCap); the cap's firing
      // shape is pinned by PipelineOpsSpec's planted 10k-identical
      // corpus, where an all-pairs oracle would itself be the blowup.
      s"""$phashSql
         |SELECT a.media_id AS media_i, b.media_id AS media_j,
         |       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming,
         |       FALSE AS capped
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin,
    "q_media_phash_zero_groups" ->
      s"""$phashSql
         |SELECT ahash, CAST(count(*) AS INT) AS group_size,
         |       array_to_string(list_sort(list(media_id))[1:8], ',')
         |         AS sample_ids
         |FROM h GROUP BY ahash HAVING count(*) >= 2""".stripMargin,
    "q_vad_segments" ->
      """WITH a AS (
        |  SELECT doc_id AS media_id, text AS txt
        |  FROM documents WHERE doc_id % 3 = 1),
        |fr AS (
        |  SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
        |         substr(txt, CAST(i * 64 + 1 AS BIGINT), 64) AS frame
        |  FROM a, unnest(range(0, CAST(ceil(length(txt) / 64.0) AS BIGINT)))
        |       AS u(i)),
        |en AS (
        |  SELECT media_id, frame_idx,
        |         CAST(length(regexp_replace(frame, '[^A-Za-z0-9]', '', 'g'))
        |           AS BIGINT) AS energy
        |  FROM fr),
        |v AS (
        |  SELECT media_id, frame_idx, energy,
        |         frame_idx - row_number() OVER (PARTITION BY media_id
        |           ORDER BY frame_idx) AS grp
        |  FROM en WHERE energy >= 32)
        |SELECT media_id, CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |       CAST(max(frame_idx) AS BIGINT) AS end_frame,
        |       CAST(count(*) AS BIGINT) AS n_frames,
        |       CAST(sum(energy) AS BIGINT) AS energy_sum
        |FROM v GROUP BY media_id, grp""".stripMargin,
    "q_binary_ingest" ->
      """SELECT doc_id,
        |       CAST(strlen(text || chr(10)) AS INT) AS n_bytes,
        |       md5(text || chr(10)) AS content_md5
        |FROM documents WHERE doc_id < 20""".stripMargin,
    "q_media_dedup" ->
      // strlen = UTF-8 BYTE count, matching Spark's length(payload) on
      // the binary column (length(text) counts CHARACTERS — diverges on
      // any non-ASCII corpus). The mirror branch re-ingests every 7th
      // asset, same as the Spark side — see mediaDedup's comment.
      """WITH b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS media_type,
        |         md5(text) AS digest,
        |         CAST(strlen(text) AS BIGINT) AS nbytes
        |  FROM documents),
        |m AS (
        |  SELECT media_type, digest, nbytes FROM b
        |  UNION ALL
        |  SELECT media_type, digest, nbytes FROM b WHERE doc_id % 7 = 0),
        |g AS (SELECT media_type, digest, CAST(count(*) AS BIGINT) AS copies,
        |             max(nbytes) AS nbytes
        |      FROM m GROUP BY 1, 2)
        |SELECT media_type, CAST(sum(copies) AS BIGINT) AS n_blobs,
        |       CAST(count(*) AS BIGINT) AS distinct_payloads,
        |       CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS dup_groups,
        |       CAST(max(copies) AS BIGINT) AS max_copies,
        |       CAST(sum((copies - 1) * nbytes) AS BIGINT)
        |         AS dedup_saved_bytes
        |FROM g GROUP BY 1""".stripMargin,
    "q_media_integrity" ->
"""SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS media_type,
        |       count(*) AS n_media,
        |       CAST(sum(CASE WHEN octet_length(encode(text)) = n_chars
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_size_ok,
        |       CAST(sum(CASE WHEN octet_length(encode(text)) = n_chars
        |                THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatched
        |FROM documents GROUP BY 1""".stripMargin,
    "q_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id, text AS txt
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id,
        |         CAST(ceil(length(txt) / 256.0) AS BIGINT) AS n_frames,
        |         list_filter(range(0, CAST(ceil(length(txt) / 256.0) AS BIGINT)),
        |                     i -> i % 4 = 0) AS keep,
        |         txt
        |  FROM v)
        |SELECT media_id, n_frames,
        |       CAST(len(keep) AS INT) AS n_sampled,
        |       md5(array_to_string(list_transform(keep,
        |             i -> substr(txt, CAST(i * 256 + 1 AS BIGINT), 256)), ''))
        |         AS sample_digest
        |FROM f""".stripMargin,
    "q_media_features" ->
      // strlen (bytes) everywhere the Spark side reads payload.length —
      // the stub decoder's geometry is a function of the BYTE count.
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |            WHEN doc_id % 3 = 1 THEN 'audio'
        |            ELSE 'video' END AS media_type,
        |       count(*) AS n_media,
        |       CAST(sum(CAST(strlen(text) AS BIGINT)) AS BIGINT) AS total_bytes,
        |       CAST(sum(CAST(1 + strlen(text) % 64 AS BIGINT)) AS BIGINT) AS sum_width,
        |       CAST(sum(CAST(1 + (strlen(text) // 64) % 64 AS BIGINT)) AS BIGINT) AS sum_height,
        |       count(DISTINCT md5(text)) AS distinct_payloads
        |FROM documents GROUP BY 1""".stripMargin)
}
