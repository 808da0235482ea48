package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The capstone composite: an end-to-end training-corpus preprocessing
  * pass — language filter → quality gate → exact dedup (keep smallest
  * doc_id) → deterministic sample → per-source accounting. This is the
  * pipeline shape a 100 TB corpus actually runs nightly; each stage is
  * one of the §2.3 operators, composed in a single declarative plan so
  * Catalyst fuses the narrow stages and the only shuffles are the dedup
  * hash-agg and the final rollup.
  */
object CorpusPipeline {

  def preprocess(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(toks))
      // language filter + quality gate
      .filter(col("lang").isin("en", "es", "fr"))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000)
      // exact dedup: keep the smallest doc_id per normalized content hash
      .withColumn("content_hash",
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
    val keep = docs.groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"))
    docs.join(keep, Seq("content_hash", "doc_id"), "left_semi")
      // deterministic 50% sample by hash bucket
      .withColumn("bucket",
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .filter(col("bucket") < 50)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
  }

  /** Corpus data card: the one-table release summary accompanying a
    * training dataset (docs, languages, sources, token volume, exact-dup
    * and near-dup rates) — every value an exact integer so the card is
    * bit-reproducible. Each metric is an independent aggregate; Spark
    * runs them as parallel jobs over the shared scans and the union is
    * driver-free. */
  def corpusDatacard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = split(lower(col("text")), "\\s+")
    // ONE aggregate pass for the six base metrics (r19): the old
    // one-aggregate-per-metric union scanned the corpus six times —
    // twice through the full text column (token split, normalized
    // md5). The three countDistincts expand each input row 4× inside
    // one aggregate, far cheaper than re-reading text per metric; the
    // 1-row result unpivots via stack. Values and dtypes unchanged.
    val base = docs.agg(
      count(lit(1)).cast("long").as("v_docs"),
      countDistinct(col("lang")).cast("long").as("v_langs"),
      countDistinct(col("source")).cast("long").as("v_sources"),
      sum(col("n_chars").cast("long")).cast("long").as("v_chars"),
      sum(size(toks).cast("long")).cast("long").as("v_tokens"),
      (count(lit(1)) - countDistinct(
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))))
        .cast("long").as("v_dups"))
      .select(expr("stack(6, 'n_docs', v_docs, 'n_langs', v_langs," +
        " 'n_sources', v_sources, 'total_chars', v_chars," +
        " 'total_ws_tokens', v_tokens, 'exact_dup_docs', v_dups)" +
        " AS (metric, value)"))
    val nearDups = Dedup.dedupMinhash(spark, dir)
      .agg(count(lit(1)).cast("long").as("value"))
      .select(lit("near_dup_pairs").as("metric"), col("value"))
    base.unionAll(nearDups)
  }

  /** The round-8 composite: Gopher-style quality gate → exact dedup →
    * systematic PPS weighted sample → packing manifest, ONE declarative
    * plan, emitted as per-stage accounting rows (stage, n_rows,
    * n_tokens) — the funnel report a corpus release publishes. `n_rows`
    * is docs for the doc stages, DRAWS for the sample stage and
    * SEQUENCES for the pack stage. Every stage reuses the registered
    * operator's exact algebra (the gate's cross-multiplied integer
    * rules, dedup's min-id-per-hash, the distributed-cumsum PPS picks,
    * the closed-form sequence count), so the chain is as
    * hash-reproducible as its parts. */
  def preprocessV2(spark: SparkSession, dir: String,
      seqLen: Long = Packing.SeqLen, k: Int = 100): DataFrame = {
    // The raw text is scanned exactly TWICE — once here (token count +
    // normalized content hash in one projection) and once inside the
    // quality gate's feature pass — and every downstream stage runs on
    // slim checkpointed (id, ints, hash) projections. Without the
    // materialization each of the five stage aggregates re-derives its
    // lineage, so the gate's regex pass and the content md5 would run
    // once PER STAGE over the full corpus — the difference between a
    // nightly 100 TB pipeline reading 200 TB of text and reading 1 PB.
    val raw = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("content_hash"))
      .localCheckpoint()
    val gated = TextAnalysis.qualityGate(spark, dir)
      .filter(col("keep"))
      .select(col("doc_id"), col("n_words").cast("long").as("n_tokens"))
      .join(raw.select("doc_id", "content_hash"), "doc_id")
      .localCheckpoint()
    val keepIds = gated
      .groupBy("content_hash").agg(min("doc_id").as("doc_id"))
    val survivors = gated.join(keepIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_tokens"),
        md5(col("doc_id").cast("string")).as("rnd"))
    val cum = Packing.withGlobalCumsum(survivors, "n_tokens", Seq("rnd", "doc_id"))
      .localCheckpoint() // feeds the sample AND the pack accounting
    val tot = cum.agg(sum("n_tokens").as("wtot"))
    val picks = cum.crossJoin(tot)
      .selectExpr("doc_id", "n_tokens", "cum_before", s"wtot div ${k}L AS s")
      .selectExpr("doc_id", "n_tokens",
        s"least(greatest((cum_before + n_tokens - (s div 2) + s - 1) div s, 0L), ${k}L)" +
          s" - least(greatest((cum_before - (s div 2) + s - 1) div s, 0L), ${k}L)" +
          " AS n_picks")
      .filter(col("n_picks") >= 1)
    def stage(name: String, df: DataFrame, rows: org.apache.spark.sql.Column,
        toks: org.apache.spark.sql.Column): DataFrame =
      df.agg(rows.cast("long").as("n_rows"), toks.cast("long").as("n_tokens"))
        .select(lit(name).as("stage"), col("n_rows"), col("n_tokens"))
    Seq(
      stage("raw", raw, count(lit(1)), sum("n_tokens")),
      stage("quality_gate", gated, count(lit(1)), sum("n_tokens")),
      stage("exact_dedup", cum, count(lit(1)), sum("n_tokens")),
      stage("pps_sample", picks, sum("n_picks"),
        sum(col("n_tokens") * col("n_picks"))),
      stage("seq_pack", cum, expr(s"(sum(n_tokens) + ${seqLen}L - 1) div ${seqLen}L"),
        sum("n_tokens"))).reduce(_ unionAll _)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_pipeline" -> preprocess,
    "q_corpus_pipeline_v2" -> ((s, d) => preprocessV2(s, d)),
    "q_corpus_datacard" -> corpusDatacard)

  val oracles: Map[String, String] = Map(
    "q_corpus_pipeline_v2" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(list_sum(list_transform(toks,
        |              t2 -> CAST(length(t2) AS BIGINT))) AS BIGINT) AS word_chars,
        |         CAST(len(list_filter(toks,
        |              t2 -> regexp_matches(t2, '[a-z]'))) AS BIGINT) AS n_alpha,
        |         CAST(len(list_intersect(list_distinct(toks),
        |              ['the','be','to','of','and','that','have','with']))
        |           AS BIGINT) AS n_req_stop,
        |         CAST(length(regexp_extract_all(text, '#'))
        |            + length(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
        |           AS n_symbols
        |  FROM t),
        |g AS (
        |  SELECT doc_id, text, n_tokens FROM m
        |  WHERE n_tokens BETWEEN 50 AND 100000
        |    AND 3 * n_tokens <= word_chars AND word_chars <= 10 * n_tokens
        |    AND 10 * n_symbols <= n_tokens
        |    AND 10 * n_alpha >= 8 * n_tokens
        |    AND n_req_stop >= 2),
        |h AS (
        |  SELECT doc_id, n_tokens,
        |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS ch
        |  FROM g),
        |kk AS (SELECT min(doc_id) AS doc_id FROM h GROUP BY ch),
        |s AS (
        |  SELECT h.doc_id, h.n_tokens, md5(CAST(h.doc_id AS VARCHAR)) AS rnd
        |  FROM h JOIN kk USING (doc_id)),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rnd, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before,
        |         CAST(SUM(n_tokens) OVER () AS BIGINT) // 100 AS st
        |  FROM s),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |         least(greatest((cum_before + n_tokens - (st // 2) + st - 1)
        |           // st, 0), 100)
        |         - least(greatest((cum_before - (st // 2) + st - 1) // st, 0),
        |             100) AS n_picks
        |  FROM c)
        |SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM m
        |UNION ALL
        |SELECT 'quality_gate', CAST(count(*) AS BIGINT),
        |       CAST(sum(n_tokens) AS BIGINT) FROM g
        |UNION ALL
        |SELECT 'exact_dedup', CAST(count(*) AS BIGINT),
        |       CAST(sum(n_tokens) AS BIGINT) FROM s
        |UNION ALL
        |SELECT 'pps_sample', CAST(sum(n_picks) AS BIGINT),
        |       CAST(sum(n_tokens * n_picks) AS BIGINT)
        |FROM p WHERE n_picks >= 1
        |UNION ALL
        |SELECT 'seq_pack', (CAST(sum(n_tokens) AS BIGINT) + 2047) // 2048,
        |       CAST(sum(n_tokens) AS BIGINT) FROM s""".stripMargin,
    "q_corpus_datacard" ->
      s"""SELECT 'n_docs' AS metric, count(*) AS value FROM documents
         |UNION ALL SELECT 'n_langs', count(DISTINCT lang) FROM documents
         |UNION ALL SELECT 'n_sources', count(DISTINCT source) FROM documents
         |UNION ALL SELECT 'total_chars', CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) FROM documents
         |UNION ALL SELECT 'total_ws_tokens',
         |  CAST(sum(CAST(length(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)) AS BIGINT)
         |  FROM documents
         |UNION ALL SELECT 'exact_dup_docs',
         |  count(*) - count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
         |  FROM documents
         |UNION ALL SELECT 'near_dup_pairs',
         |  (SELECT count(*) FROM (${Dedup.jaccardPairsSql}) jp WHERE jaccard >= 0.8)"""
        .stripMargin,
    "q_corpus_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |         CAST(length(regexp_split_to_array(lower(text), '\s+')) AS INT) AS n_tokens,
        |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |  FROM documents
        |  WHERE lang IN ('en', 'es', 'fr')),
        |gated AS (
        |  SELECT * FROM base WHERE n_tokens BETWEEN 20 AND 1000),
        |kept AS (
        |  SELECT g.* FROM gated g
        |  JOIN (SELECT content_hash, min(doc_id) AS doc_id
        |        FROM gated GROUP BY content_hash) k
        |    ON g.content_hash = k.content_hash AND g.doc_id = k.doc_id),
        |sampled AS (
        |  SELECT * FROM kept
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50)
        |SELECT source,
        |       count(*) AS n_docs,
        |       CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
        |       min(doc_id) AS min_doc_id,
        |       max(doc_id) AS max_doc_id
        |FROM sampled GROUP BY source""".stripMargin)
}
