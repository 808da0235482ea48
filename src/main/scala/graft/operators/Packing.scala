package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Training-sequence assembly: the last batch stage of a pretraining
  * data pipeline — documents are shuffled deterministically,
  * concatenated, and chunked into fixed-length training sequences
  * (GPT-style packing: no padding, documents split across sequence
  * boundaries). The operator emits the per-document PLACEMENT MANIFEST
  * (which sequences a doc lands in, at what offset) — the metadata a
  * sharded tokenizer-writer fans out over, and the provenance map
  * "which docs fed sequence i" needed for contamination tracebacks.
  */
object Packing {

  /** Tokens per packed training sequence for the registered query. */
  private[graft] val SeqLen = 2048L

  /** Append `cum_before` = exact global cumulative sum of `weightCol`
    * strictly before each row in `orderCols` order (which must be a
    * unique key), computed DISTRIBUTED: `repartitionByRange` on the
    * order → per-partition totals (one tiny row each) → broadcast
    * triangular prefix join → per-partition window sum. The naive form
    * — one unpartitioned running-sum window — pulls the whole table
    * through a single task; this shape keeps every stage over the data
    * partitioned (same discipline as `Profiling.equidepthOf`'s exact
    * rank, generalized from counts to weights). */
  private[graft] def withGlobalCumsum(input: DataFrame, weightCol: String,
      orderCols: Seq[String], parts: Int = 0): DataFrame =
    withGlobalCumsums(input, Seq(weightCol -> "cum_before"), orderCols, parts)

  /** Range-partition count for the distributed-cumsum family: the
    * session's shuffle-partition setting (env-parameterised via
    * GraftSession — the local default equals the core count; a cluster
    * raises it or leaves it to AQE), NOT a constant. A constant tuned
    * for one machine is exactly the scale bug the optimization guide
    * (§2) warns about: 32 range partitions of a 100 TB table are 3 TB
    * each. Exactness is partition-count-independent (the prefix offsets
    * are computed from whatever partitioning was drawn), so the count
    * is purely a throughput knob. */
  private[graft] def derivedParts(input: DataFrame, parts: Int): Int =
    if (parts > 0) parts
    else input.sparkSession.sessionState.conf.numShufflePartitions

  /** Multi-weight generalization of [[withGlobalCumsum]]: append one
    * exact strictly-before running sum PER (weightCol → outCol) pair,
    * all over the SAME `orderCols` ordering, for the cost of ONE range
    * shuffle + ONE checkpoint + ONE per-partition window pass. Callers
    * that need several cumulative statistics of the same ordering (KS
    * drift's two CDFs, the coverage curve's rank + occurrence mass)
    * previously chained full passes — at 100 TB each chained pass is
    * another range shuffle and materialization of the whole table, so
    * fusing them halves the dominant cost. */
  private[graft] def withGlobalCumsums(input: DataFrame,
      weights: Seq[(String, String)], orderCols: Seq[String],
      parts: Int = 0): DataFrame = {
    val nParts = derivedParts(input, parts)
    // MATERIALIZE the ranged rows before fanning out. The per-partition
    // sums, the offsets join and the local window all consume `ranged`;
    // if Catalyst prunes them differently the exchange subtrees stop
    // being canonical, ReuseExchange does NOT kick in, and each
    // consumer re-runs repartitionByRange's reservoir SAMPLING with a
    // different rddId seed — different partition boundaries per
    // consumer, so prefix offsets from one partitioning get applied to
    // another's window and the "exact" rank silently corrupts
    // (observed: q_skipping_report's box columns survived pruning in
    // one consumer only; ranks stopped being a permutation and drifted
    // run to run). The checkpoint freezes ONE partitioning for all
    // consumers; it is the same build-once discipline the index caches
    // use, and the input here is always a slim projection.
    val ranged = input
      .repartitionByRange(nParts, orderCols.map(col): _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val sums = ranged.groupBy("pid").agg(
      sum(weights.head._1).as(s"psum_0"),
      weights.tail.zipWithIndex.map { case ((w, _), i) =>
        sum(w).as(s"psum_${i + 1}") }: _*)
    val offs = sums
      .join(broadcast(sums.select(col("pid").as("bpid") +:
        weights.indices.map(i => col(s"psum_$i").as(s"bsum_$i")): _*)),
        col("bpid") < col("pid"), "left")
      .groupBy("pid").agg(
        coalesce(sum("bsum_0"), lit(0L)).as("poff_0"),
        weights.indices.tail.map(i =>
          coalesce(sum(s"bsum_$i"), lit(0L)).as(s"poff_$i")): _*)
    val localW = Window.partitionBy("pid").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = weights.zipWithIndex.foldLeft(ranged) {
      case (df, ((w, _), i)) =>
        df.withColumn(s"lcum_$i",
          coalesce(sum(col(w)).over(localW), lit(0L)))
    }
    val joined = withLocal.join(broadcast(offs), "pid")
    weights.zipWithIndex.foldLeft(joined) {
      case (df, ((_, out), i)) =>
        df.withColumn(out, col(s"poff_$i") + col(s"lcum_$i"))
    }.drop("pid" +: weights.indices.flatMap(i =>
      Seq(s"lcum_$i", s"poff_$i")): _*)
  }

  /** Concat-and-chunk packing manifest at `seqLen` tokens: documents in
    * deterministic md5 shuffle order, each doc's token span
    * [cum_before, cum_before + n_tokens) mapped to its first/last
    * training sequence and in-sequence offset — all integer closed
    * forms on the distributed exact cumsum, zero unpartitioned windows,
    * bit-identical across engines. */
  def seqPack(spark: SparkSession, dir: String,
      seqLen: Long = SeqLen): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("rnd"))
    withGlobalCumsum(docs, "n_tokens", Seq("rnd", "doc_id"))
      .selectExpr("doc_id", "n_tokens", "cum_before",
        s"cum_before div ${seqLen}L AS first_seq",
        s"cum_before % ${seqLen}L AS offset_in_first",
        s"(cum_before + n_tokens - 1) div ${seqLen}L AS last_seq")
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** MATERIALIZE the packed sequences themselves — the writer stage the
    * [[seqPack]] manifest plans for: each doc slices its token array
    * into the sequence(s) its span covers (pure closed-form arithmetic
    * on the cumsum — no re-scan, no per-sequence search), and each
    * sequence assembles its slices in stream order. Emitted as
    * (seq_id, n_docs, n_tokens, seq_md5) with the content hashed so the
    * oracle pins the EXACT byte content of every sequence without
    * shipping 2048-token strings through the compare. Bounded to the
    * first `kSeqs` sequences for the registered query (a shard writer
    * fans out over all of them). */
  def seqMaterialize(spark: SparkSession, dir: String,
      seqLen: Long = SeqLen, kSeqs: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        split(lower(col("text")), "\\s+").as("toks"),
        md5(col("doc_id").cast("string")).as("rnd"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val cum = withGlobalCumsum(docs, "n_tokens", Seq("rnd", "doc_id"))
    val spans = cum
      .select(col("doc_id"), col("toks"), col("n_tokens"), col("cum_before"),
        explode(expr(
          s"sequence(cum_before div ${seqLen}L," +
            s" (cum_before + n_tokens - 1) div ${seqLen}L)")).as("seq_id"))
      .filter(col("seq_id") < kSeqs)
      // overlap of [cum, cum+n) with [seq·L, (seq+1)·L) in LOCAL token
      // coordinates; slice is 1-based.
      .selectExpr("seq_id", "cum_before",
        s"slice(toks, CAST(greatest(seq_id * ${seqLen}L, cum_before)" +
          " - cum_before + 1 AS INT)," +
          s" CAST(least((seq_id + 1) * ${seqLen}L, cum_before + n_tokens)" +
          s" - greatest(seq_id * ${seqLen}L, cum_before) AS INT)) AS part")
    spans
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("part"))).cast("long").as("n_tokens"),
        md5(array_join(expr(
          "flatten(transform(array_sort(collect_list(struct(cum_before, part)))," +
            " p -> p.part))"), " ")).as("seq_md5"))
  }

  /** Length-bucketed INFERENCE batch plan: docs grouped into power-of-2
    * token-length buckets (⌊log2 n⌋ via binary-string length — exact on
    * both engines, no float log), then split into fixed-size batches in
    * deterministic md5 order WITHIN each bucket — the padding-waste
    * minimization every batched-inference service runs (padding cost is
    * bounded by 2× within a bucket instead of max-doc-length across the
    * corpus). The per-bucket rank is a PARTITIONED window — batch
    * assignment never needs a global order. */
  def inferenceBatchPlan(spark: SparkSession, dir: String,
      batchSize: Int = 32): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("rnd"))
      .withColumn("bucket", expr("CAST(length(bin(n_tokens)) - 1 AS INT)"))
      .withColumn("batch_id",
        expr(s"(row_number() OVER (PARTITION BY bucket ORDER BY rnd, doc_id)" +
          s" - 1) div $batchSize"))
      .select("doc_id", "n_tokens", "bucket", "batch_id")
  }

  /** Balanced SHARD assignment for a training-data export: documents
    * ranked by token count (longest first, doc_id tiebreak) and dealt
    * to `nShards` shards in BOUSTROPHEDON (snake) order — pass 0 deals
    * shards 0..S−1, pass 1 deals S−1..0, … — the deterministic
    * streaming analog of LPT greedy bin packing: each length-adjacent
    * group of 2S docs contributes one long+short pair to every shard,
    * so per-shard token totals balance to within one document without
    * any sequential "least-loaded" state. Output is the shard audit a
    * writer plans its output files from: docs + token total per shard.
    *
    * Scale shape: the global rank is [[withGlobalCumsum]]'s distributed
    * exact rank (range shuffle + broadcast prefix offsets — never an
    * unpartitioned window over the corpus), the snake map is a pure
    * integer projection, and the audit is one map-side-combined
    * aggregate to `nShards` rows. */
  def shardPlan(spark: SparkSession, dir: String,
      nShards: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("neg_tokens", -col("n_tokens"))
      .withColumn("one", lit(1L))
    withGlobalCumsum(docs, "one", Seq("neg_tokens", "doc_id"))
      .withColumn("shard",
        expr(s"CASE WHEN (cum_before div $nShards) % 2 = 0" +
          s" THEN cum_before % $nShards" +
          s" ELSE $nShards - 1 - cum_before % $nShards END"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tok_sum"))
  }

  /** SOURCE-INTERLEAVED LENGTH CURRICULUM (Bengio et al. ICML'09
    * curriculum learning, the short-to-long schedule): a deterministic
    * global training order in which consecutive positions rotate
    * through the sources (no source starvation at any prefix) and each
    * source's documents ascend by token count (easy-to-hard). Position
    * = per-source rank × n_sources + source index — a pure integer
    * projection once the per-source rank exists, and the per-source
    * rank is [[withGlobalCumsum]]'s distributed exact rank in
    * (source, n_tokens, doc_id) order minus each source's broadcast
    * start offset: NEVER a per-source window over raw rows (at 100 TB
    * a source is most of the corpus; the offsets table is |sources|
    * rows). */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("one", lit(1L))
    val ranked = withGlobalCumsum(docs, "one",
      Seq("source", "n_tokens", "doc_id"))
    // Checkpointed (r19): |sources| rows, three consumers (both sides
    // of the triangular self-join + the n_sources count) — each re-ran
    // the documents scan + aggregate without the materialization
    // (source-column-pruned, so cheap scans, but three of them).
    val srcCounts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // |sources|-row algebra: name-ordered index + exclusive start
    // offset via the triangular self-join (no window needed).
    val srcIdx = srcCounts.as("a")
      .join(broadcast(srcCounts.as("b")),
        col("b.source") < col("a.source"), "left")
      .groupBy(col("a.source").as("source"))
      .agg(count(col("b.source")).as("src_idx"),
        coalesce(sum(col("b.cnt")), lit(0L)).as("offset"))
    val nSrc = srcCounts.agg(count(lit(1)).as("n_sources"))
    ranked.join(broadcast(srcIdx), "source")
      .crossJoin(nSrc)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cum_before") - col("offset")).as("rank_in_source"),
        expr("(cum_before - offset) * n_sources + src_idx")
          .as("curriculum_pos"))
  }

  /** TOKEN-BUDGET TRIM — greedy quality-first data selection under a
    * fixed token budget (the data-selection face of the mixture
    * family: DSIR reweights, temperature rebalances, THIS one decides
    * what fits at all): docs ordered by a deterministic quality proxy
    * (stopword rate in exact milli — the natural-prose signal the
    * quality gate thresholds), the kept set is the maximal prefix
    * whose cumulative token count fits the budget, with the boundary
    * doc kept only if it still fits whole. Per-doc verdict rides out
    * so the cut is auditable.
    *
    * Plan/scale: the prefix sum is the distributed exact-rank
    * primitive ([[withGlobalCumsum]] — range shuffle + broadcast
    * offsets), never a global window; the verdict is a pure
    * projection. */
  def budgetTrim(spark: SparkSession, dir: String,
      budget: Long = 10000L): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(filter(col("toks"),
          t => t.isin(stop.map(lit(_)): _*))).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        expr("CAST(n_stop * 1000 div n_tokens AS BIGINT)").as("q_milli"))
      .withColumn("neg_q", -col("q_milli"))
    withGlobalCumsum(scored, "n_tokens", Seq("neg_q", "doc_id"))
      .select(col("doc_id"), col("q_milli"), col("n_tokens"),
        col("cum_before"),
        (col("cum_before") + col("n_tokens") <= budget).as("kept"))
  }

  /** PADDING-WASTE SWEEP for the pad-to-length training regime — the
    * seqLen decision table: for each candidate sequence length S, a
    * document of t tokens costs ⌈t/S⌉ sequences of which the last is
    * padded, so waste = Σ(⌈t/S⌉·S − t). Concat-and-chunk packing
    * ([[seqPack]]) wastes nothing by construction; real pipelines that
    * cannot cross document boundaries (instruction tuning, contrastive
    * pairs) pay this padding, and the sweep says which S pays least on
    * THIS corpus's length distribution. All integer closed forms.
    *
    * Plan: one scan computes token counts; the 4-way per-S explode
    * collapses inside the same stage's partial aggregate (the
    * bootstrap-replicate discipline — shuffle carries 4 rows per task,
    * never 4× the corpus). */
  def packWaste(spark: SparkSession, dir: String,
      lens: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L)): DataFrame = {
    val lensSql = lens.mkString("array(", "L, ", "L)")
    Tables.documents(spark, dir)
      .select(size(split(lower(col("text")), "\\s+")).cast("long").as("t"))
      .select(explode(expr(lensSql)).as("seq_len"), col("t"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum("t").as("total_tokens"),
        sum(expr("(t + seq_len - 1) div seq_len")).as("n_seqs"),
        sum(expr("((t + seq_len - 1) div seq_len) * seq_len - t"))
          .as("padding_tokens"))
      .selectExpr("seq_len", "n_docs", "total_tokens", "n_seqs",
        "padding_tokens",
        "CAST(CAST(padding_tokens AS DECIMAL(38,0)) * 1000000" +
          " div (n_seqs * seq_len) AS BIGINT) AS waste_ppm")
  }

  /** DETERMINISTIC MLM MASK PLAN — the masking stage of a
    * BERT/T5-style training-data build, made replayable: each token
    * position masks iid at 15% where the "coin" is
    * md5(doc_id, position) (the same zero-RNG-state discipline as
    * q_negative_sampling/q_bootstrap_means — any engine, any
    * partitioning, any restart produces the SAME mask), and the
    * report is the per-document mask-plan summary a span-corruption
    * writer consumes: masked count, number of contiguous SPANS
    * (gaps-and-islands over masked positions), longest span, exact
    * mask ratio. Span statistics matter because corruption objectives
    * are span-aware (T5 corrupts spans, not tokens); the island pass
    * is the sessionize machinery applied inside documents.
    *
    * Plan/scale shape: token positions come from ONE
    * explode(sequence(0, n−1)) off the doc-length projection (the
    * word text never enters the plan — the mask is position-keyed);
    * the only shuffle is doc-keyed, and every window is PARTITIONED
    * by doc (bounded by doc length). Per-doc output rows, one exact
    * ppm floor-div. */
  def maskPlan(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val masked = lens
      .select(col("doc_id"), explode(expr("sequence(0L, n_tokens - 1)"))
        .as("pos"))
      .filter(expr("CAST(conv(substr(md5(concat('graft-mask-', " +
        "CAST(doc_id AS STRING), '-', CAST(pos AS STRING))), 1, 8), " +
        "16, 10) AS BIGINT) % 100 < 15"))
    val spans = masked
      .withColumn("isl", col("pos") - row_number()
        .over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "isl").agg(count(lit(1)).as("len"))
    lens.join(
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"), sum("len").as("n_masked"),
          max("len").as("max_span")),
      Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "n_masked", "max_span"))
      .withColumn("mask_ratio_ppm",
        expr("n_masked * 1000000 div n_tokens"))
  }

  /** T5-STYLE SPAN-CORRUPTION PLAN (Raffel et al., JMLR'20) — the
    * seq2seq sibling of [[maskPlan]]'s BERT masking, equally
    * replayable: span STARTS fire where md5(doc, pos) % 100 < 5 (5%
    * of positions), each span runs 2–4 tokens (mean 3 ⇒ ~15% of
    * tokens corrupted — the T5 default), drawn from a DIFFERENT hex
    * window of the same digest; overlapping spans merge via
    * gaps-and-islands over the exploded masked positions, exactly as
    * a sentinel-based corruption must (each MERGED span gets one
    * sentinel). Per doc: span/masked counts, corruption ratio, and
    * the encoder/decoder lengths the batch planner needs —
    * input_len = n − masked + spans, target_len = masked + spans + 1
    * (sentinels on both sides, final EOS). Word text never enters the
    * plan (position-keyed off the doc-length projection, the
    * maskPlan discipline); every window is doc-partitioned.
    */
  def spanCorruptPlan(spark: SparkSession, dir: String): DataFrame = {
    // Materialized once (r19): the length table feeds the span
    // expansion AND the final left join — un-checkpointed, the text
    // scan + whitespace split ran twice. Two longs per doc.
    val lens = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .localCheckpoint()
    val digest = "md5(concat('graft-span-', CAST(doc_id AS STRING), " +
      "'-', CAST(pos AS STRING)))"
    val starts = lens
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(0L, n_tokens - 1)")).as("pos"))
      .filter(expr(s"CAST(conv(substr($digest, 1, 8), 16, 10) AS BIGINT)" +
        " % 100 < 5"))
      .withColumn("len",
        expr(s"2 + CAST(conv(substr($digest, 9, 8), 16, 10) AS BIGINT) % 3"))
    val maskedPos = starts
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(pos, pos + len - 1)")).as("mp"))
      .filter(col("mp") < col("n_tokens"))
      .select("doc_id", "mp").distinct()
    val spans = maskedPos
      .withColumn("isl", col("mp") - row_number()
        .over(Window.partitionBy("doc_id").orderBy("mp")))
      .groupBy("doc_id", "isl").agg(count(lit(1)).as("len"))
    lens.join(
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"), sum("len").as("n_masked"),
          max("len").as("max_span")),
      Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "n_masked", "max_span"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_masked"), col("max_span"),
        expr("n_masked * 1000000 div n_tokens").as("corrupt_ratio_ppm"),
        expr("n_tokens - n_masked + n_spans").as("input_len"),
        expr("n_masked + n_spans + 1").as("target_len"))
  }

  /** Data-parallel world size for [[loaderManifest]]; the oracle
    * replays the same modulus. */
  val WorldSize = 8L

  /** DISTRIBUTED DATA-LOADER MANIFEST — the last mile of the packing
    * family: the packed sequences ([[seqPack]]'s spans) are assigned
    * to [[WorldSize]] data-parallel ranks by a seeded md5 hash
    * (replayable shuffling — every worker can recompute its own shard
    * membership without a coordinator), and the output is the
    * per-rank BALANCE AUDIT a training launch checks before burning
    * cluster-hours: sequence count, exact share ppm, and signed
    * deviation from the ideal 1/world share. Sequence ids are derived
    * DISTRIBUTED from the per-doc spans (explode + distinct — never a
    * driver-side range over 10⁸ sequences). */
  def loaderManifest(spark: SparkSession, dir: String,
      world: Long = WorldSize): DataFrame = {
    val seqs = seqPack(spark, dir)
      .select(explode(expr("sequence(first_seq, last_seq)")).as("seq"))
      .distinct()
    val ranked = seqs.select(col("seq"),
      expr("CAST(conv(substr(md5(concat('graft-rank-'," +
        s" CAST(seq AS STRING))), 1, 8), 16, 10) AS BIGINT) % $world")
        .as("rank"))
    val tot = ranked.agg(count(lit(1)).as("s_total"))
    ranked.groupBy("rank").agg(count(lit(1)).as("n_seqs"))
      .crossJoin(tot)
      .select(col("rank"), col("n_seqs"),
        expr("n_seqs * 1000000 div s_total").as("share_ppm"),
        expr(s"n_seqs * 1000000 div s_total - 1000000 div $world")
          .as("dev_ppm"))
  }

  /** Shard-id domain for [[reshardMoves]]'s packed HRW keys: owners of
    * both widths live in one `% 16` residue so the packed
    * `hash·16 + shard` key decodes with a single modulus. */
  private[graft] val ReshardSlots = 16L

  /** The per-(doc, shard) HRW key — 48-bit md5 of `doc_id:shard`,
    * packed as `hash·16 + shard` (fits a long: 2⁵² max) so the argmax
    * over shards is a plain `greatest` and ties are impossible by
    * construction (distinct shard low bits). Emitted as engine SQL
    * text so Spark and the DuckDB oracle evaluate the identical
    * function. */
  private def hrwKeySql(s: Int, spark: Boolean): String =
    if (spark)
      s"CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':$s')), 1, 12)," +
        s" 16, 10) AS BIGINT) * $ReshardSlots + $s"
    else
      s"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':$s'), 1, 12))" +
        s" AS BIGINT) * $ReshardSlots + $s"

  /** CONSISTENT-HASHING RESHARD PLAN (rendezvous / highest-random-
    * weight hashing, Thaler & Ravishankar '96): the movement matrix a
    * 100 TB corpus store consults before growing its shard count
    * `oldW` → `newW`. Each doc's owner is the argmax over shards of a
    * deterministic per-(doc, shard) hash, so growing the pool is
    * MONOTONE — a doc either keeps its owner or moves to one of the
    * ADDED shards (expected moved fraction 1 − oldW/newW, the
    * theoretical minimum for balanced placement) — while naive
    * `hash % W` placement remaps ~2/3 of the corpus for the same 8→12
    * growth. The query emits BOTH schemes' (old, new) matrices from
    * one scan so the plan quantifies exactly how many bytes each
    * strategy would move; `ReshardSpec` pins the monotonicity
    * invariant and the two movement fractions.
    *
    * Scale shape: owners are pure per-row projections (2·newW
    * codegen'd md5s, zero joins, zero explode of the shard domain
    * over the corpus); the only shuffle is the final map-side-combined
    * aggregate to ≤ 2·oldW·newW matrix rows. */
  def reshardMoves(spark: SparkSession, dir: String,
      oldW: Int = 8, newW: Int = 12): DataFrame = {
    require(oldW > 0 && oldW <= newW && newW <= ReshardSlots,
      s"shard widths must satisfy 0 < oldW ≤ newW ≤ $ReshardSlots " +
        "(the packed-key low bits hold the shard id)")
    // Spark's greatest() rejects a single argument — a 1-shard pool's
    // owner is its only key.
    def owner(w: Int) =
      if (w == 1) expr(s"(${hrwKeySql(0, spark = true)}) % $ReshardSlots")
      else expr((0 until w).map(hrwKeySql(_, spark = true))
        .mkString("greatest(", ", ", s") % $ReshardSlots"))
    val h0 = expr(
      "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        owner(oldW).as("hrw_old"), owner(newW).as("hrw_new"),
        (h0 % oldW).as("mod_old"), (h0 % newW).as("mod_new"))
      .select(col("doc_id"), explode(array(
        struct(lit("hrw").as("scheme"), col("hrw_old").as("old_shard"),
          col("hrw_new").as("new_shard")),
        struct(lit("mod").as("scheme"), col("mod_old").as("old_shard"),
          col("mod_new").as("new_shard")))).as("x"))
      .select(col("doc_id"), col("x.scheme"), col("x.old_shard"),
        col("x.new_shard"))
      .groupBy("scheme", "old_shard", "new_shard")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("doc_lo"), max("doc_id").as("doc_hi"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_loader_manifest" -> ((s, d) => loaderManifest(s, d)),
    "q_span_corrupt" -> spanCorruptPlan,
    "q_mask_plan" -> maskPlan,
    "q_pack_waste" -> ((s, d) => packWaste(s, d)),
    "q_seq_pack" -> ((s, d) => seqPack(s, d)),
    "q_seq_materialize" -> ((s, d) => seqMaterialize(s, d)),
    "q_shard_plan" -> ((s, d) => shardPlan(s, d)),
    "q_curriculum_order" -> ((s, d) => curriculumOrder(s, d)),
    "q_reshard_moves" -> ((s, d) => reshardMoves(s, d)),
    "q_budget_trim" -> ((s, d) => budgetTrim(s, d)),
    "q_batch_plan" -> ((s, d) => inferenceBatchPlan(s, d)))

  val oracles: Map[String, String] = Map(
    "q_loader_manifest" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)
         |           AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR)) AS rnd
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rnd, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM d),
         |spans AS (
         |  SELECT cum_before // ${SeqLen} AS first_seq,
         |         (cum_before + n_tokens - 1) // ${SeqLen} AS last_seq
         |  FROM c),
         |seqs AS (
         |  SELECT DISTINCT unnest(range(first_seq, last_seq + 1)) AS seq
         |  FROM spans),
         |ranked AS (
         |  SELECT seq,
         |         CAST(('0x' || substr(md5('graft-rank-'
         |           || CAST(seq AS VARCHAR)), 1, 8)) AS BIGINT)
         |           % ${WorldSize} AS rank
         |  FROM seqs),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS s_total FROM ranked)
         |SELECT rank, CAST(count(*) AS BIGINT) AS n_seqs,
         |       CAST(count(*) * 1000000 // s_total AS BIGINT) AS share_ppm,
         |       CAST(count(*) * 1000000 // s_total
         |         - 1000000 // ${WorldSize} AS BIGINT) AS dev_ppm
         |FROM ranked CROSS JOIN tot
         |GROUP BY rank, s_total""".stripMargin,
    "q_span_corrupt" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(text), '\s+'))
        |           AS BIGINT) AS n_tokens
        |  FROM documents),
        |tok AS (SELECT doc_id, n_tokens, unnest(range(0, n_tokens)) AS pos
        |        FROM d),
        |st AS (
        |  SELECT doc_id, n_tokens, pos,
        |         2 + CAST(('0x' || substr(md5('graft-span-'
        |             || CAST(doc_id AS VARCHAR) || '-'
        |             || CAST(pos AS VARCHAR)), 9, 8)) AS BIGINT) % 3 AS len
        |  FROM tok
        |  WHERE CAST(('0x' || substr(md5('graft-span-'
        |          || CAST(doc_id AS VARCHAR) || '-'
        |          || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 5),
        |mp AS (
        |  SELECT DISTINCT doc_id, pos + u.i AS mp
        |  FROM st, unnest(range(0, len)) AS u(i)
        |  WHERE pos + u.i < n_tokens),
        |isl AS (
        |  SELECT doc_id,
        |         mp - row_number() OVER (PARTITION BY doc_id ORDER BY mp)
        |           AS grp
        |  FROM mp),
        |sp AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS len
        |       FROM isl GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |         CAST(sum(len) AS BIGINT) AS n_masked,
        |         CAST(max(len) AS BIGINT) AS max_span
        |  FROM sp GROUP BY 1)
        |SELECT d.doc_id, d.n_tokens,
        |       coalesce(a.n_spans, 0) AS n_spans,
        |       coalesce(a.n_masked, 0) AS n_masked,
        |       coalesce(a.max_span, 0) AS max_span,
        |       coalesce(a.n_masked, 0) * 1000000 // d.n_tokens
        |         AS corrupt_ratio_ppm,
        |       d.n_tokens - coalesce(a.n_masked, 0) + coalesce(a.n_spans, 0)
        |         AS input_len,
        |       coalesce(a.n_masked, 0) + coalesce(a.n_spans, 0) + 1
        |         AS target_len
        |FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    "q_mask_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(text), '\s+'))
        |           AS BIGINT) AS n_tokens
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(range(0, n_tokens)) AS pos FROM d),
        |m AS (
        |  SELECT doc_id, pos FROM tok
        |  WHERE CAST(('0x' || substr(md5('graft-mask-'
        |          || CAST(doc_id AS VARCHAR) || '-'
        |          || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 15),
        |isl AS (
        |  SELECT doc_id,
        |         pos - row_number() OVER (PARTITION BY doc_id
        |                                  ORDER BY pos) AS isl
        |  FROM m),
        |sp AS (SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS len
        |       FROM isl GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |              CAST(sum(len) AS BIGINT) AS n_masked,
        |              CAST(max(len) AS BIGINT) AS max_span
        |       FROM sp GROUP BY 1)
        |SELECT d.doc_id, d.n_tokens,
        |       coalesce(pd.n_spans, 0) AS n_spans,
        |       coalesce(pd.n_masked, 0) AS n_masked,
        |       coalesce(pd.max_span, 0) AS max_span,
        |       coalesce(pd.n_masked, 0) * 1000000 // d.n_tokens
        |         AS mask_ratio_ppm
        |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin,
    "q_budget_trim" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |         CAST(len(list_filter(w, t -> t IN ('the', 'a', 'of',
        |           'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stop
        |  FROM d),
        |q AS (SELECT doc_id, n_tokens,
        |        CAST(n_stop * 1000 // n_tokens AS BIGINT) AS q_milli
        |      FROM s),
        |c AS (
        |  SELECT doc_id, q_milli, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |           ORDER BY q_milli DESC, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before
        |  FROM q)
        |SELECT doc_id, q_milli, n_tokens, cum_before,
        |       cum_before + n_tokens <= 10000 AS kept
        |FROM c""".stripMargin,
    "q_curriculum_order" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(length(regexp_split_to_array(lower(text), '\s+'))
        |           AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY n_tokens, doc_id) - 1 AS BIGINT)
        |           AS rank_in_source
        |  FROM d),
        |s AS (
        |  SELECT source,
        |         CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
        |           AS src_idx
        |  FROM (SELECT DISTINCT source FROM d)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM s)
        |SELECT r.doc_id, r.source, r.n_tokens, r.rank_in_source,
        |       r.rank_in_source * n.n_sources + s.src_idx
        |         AS curriculum_pos
        |FROM r JOIN s USING (source) CROSS JOIN n""".stripMargin,
    "q_pack_waste" ->
      """WITH d AS (
        |  SELECT CAST(len(regexp_split_to_array(lower(text), '\s+'))
        |           AS BIGINT) AS t
        |  FROM documents),
        |x AS (SELECT s.seq_len, d.t
        |      FROM d CROSS JOIN
        |        (SELECT unnest([512, 1024, 2048, 4096]) AS seq_len) s)
        |SELECT CAST(seq_len AS BIGINT) AS seq_len,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(t) AS BIGINT) AS total_tokens,
        |       CAST(sum((t + seq_len - 1) // seq_len) AS BIGINT) AS n_seqs,
        |       CAST(sum(((t + seq_len - 1) // seq_len) * seq_len - t)
        |         AS BIGINT) AS padding_tokens,
        |       CAST(CAST(sum(((t + seq_len - 1) // seq_len) * seq_len - t)
        |              AS HUGEINT) * 1000000
        |         // (sum((t + seq_len - 1) // seq_len) * seq_len)
        |         AS BIGINT) AS waste_ppm
        |FROM x GROUP BY seq_len""".stripMargin,
    // The oracle MAY use the single global running-sum window — DuckDB
    // is the referee, not the scale exemplar.
    "q_seq_pack" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)
         |           AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR)) AS rnd
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rnd, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM d)
         |SELECT doc_id, n_tokens, cum_before,
         |       cum_before // ${SeqLen} AS first_seq,
         |       cum_before % ${SeqLen} AS offset_in_first,
         |       (cum_before + n_tokens - 1) // ${SeqLen} AS last_seq,
         |       (cum_before + n_tokens - 1) // ${SeqLen}
         |         - cum_before // ${SeqLen} + 1 AS n_seqs
         |FROM c""".stripMargin,
    "q_reshard_moves" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         greatest(${(0 until 8).map(hrwKeySql(_, spark = false))
                     .mkString(", ")}) % $ReshardSlots AS hrw_old,
         |         greatest(${(0 until 12).map(hrwKeySql(_, spark = false))
                     .mkString(", ")}) % $ReshardSlots AS hrw_new,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
         |           AS BIGINT) AS h0
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, 'hrw' AS scheme,
         |         hrw_old AS old_shard, hrw_new AS new_shard FROM h
         |  UNION ALL
         |  SELECT doc_id, 'mod', h0 % 8, h0 % 12 FROM h)
         |SELECT scheme, old_shard, new_shard, count(*) AS n_docs,
         |       min(doc_id) AS doc_lo, max(doc_id) AS doc_hi
         |FROM u GROUP BY 1, 2, 3""".stripMargin,
    "q_shard_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
        |           AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT n_tokens,
        |         row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rn
        |  FROM d),
        |s AS (
        |  SELECT n_tokens,
        |         CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
        |              ELSE 7 - rn % 8 END AS shard
        |  FROM r)
        |SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS tok_sum
        |FROM s GROUP BY 1""".stripMargin,
    "q_batch_plan" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
        |           AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS rnd
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |       CAST(length(bin(n_tokens)) - 1 AS INT) AS bucket,
        |       CAST((row_number() OVER (
        |          PARTITION BY CAST(length(bin(n_tokens)) - 1 AS INT)
        |          ORDER BY rnd, doc_id) - 1) // 32 AS BIGINT) AS batch_id
        |FROM d""".stripMargin,
    "q_seq_materialize" ->
      s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks,
         |         md5(CAST(doc_id AS VARCHAR)) AS rnd
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
         |         CAST(COALESCE(SUM(CAST(len(toks) AS BIGINT)) OVER (
         |           ORDER BY rnd, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_before
         |  FROM d),
         |x AS (
         |  SELECT toks, n_tokens, cum_before,
         |         unnest(range(cum_before // ${SeqLen},
         |           (cum_before + n_tokens - 1) // ${SeqLen} + 1)) AS seq_id
         |  FROM c),
         |s AS (
         |  SELECT seq_id, cum_before,
         |         toks[CAST(greatest(seq_id * ${SeqLen}, cum_before)
         |                - cum_before + 1 AS BIGINT):
         |              CAST(least((seq_id + 1) * ${SeqLen},
         |                cum_before + n_tokens) - cum_before AS BIGINT)] AS part
         |  FROM x WHERE seq_id < 20)
         |SELECT seq_id, count(*) AS n_docs,
         |       CAST(sum(len(part)) AS BIGINT) AS n_tokens,
         |       md5(string_agg(array_to_string(part, ' '), ' '
         |           ORDER BY cum_before)) AS seq_md5
         |FROM s GROUP BY 1""".stripMargin)
}
