package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ShinglesAll

/** Corpus-cleaning operators for LLM-training-data pipelines: exact
  * duplicated-span detection/removal (the "dedup at the substring
  * level" pass that doc-level dedup misses — boilerplate, quoted
  * passages, template text shared across otherwise-distinct documents)
  * and PII redaction.
  *
  * Scale design: span extraction is a codegen'd positional-shingle
  * projection (`shingles_all`, shuffle-free); the corpus-wide
  * occurrence count is one shuffle on the shingle; removal is a
  * semi/anti join keyed by (doc_id, position) — never any n² pair
  * enumeration. The plans here re-derive the occurrence projection per
  * branch (each re-derivation is a columnar text scan + codegen pass);
  * a 100 TB run materializes the span index once and feeds every
  * consumer from it — exactly [[Dedup.persistedShingleIndex]]'s shape
  * — and xxhash64-masks the shingle before the shuffle (64-bit keys
  * instead of strings; strings kept here so the DuckDB oracle replays
  * the count exactly). PII redaction is a pure per-row projection
  * (precompiled regexes inside whole-stage codegen), zero shuffles.
  */
object CorpusClean {

  /** Span length in words. Substring-level dedup conventionally uses
    * ~50 BPE tokens; 8 words is scaled to this corpus' short synthetic
    * docs while exercising the identical machinery. */
  val SpanWords = 8

  /** (doc_id, pos, sh) — every word 8-gram occurrence in the corpus,
    * positional and non-distinct, via the codegen'd `shingles_all`. */
  private def spanOccurrences(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(ShinglesAll(col("text"), SpanWords)).as(Seq("pos", "sh")))
  }

  /** Every span occurrence carrying its corpus-wide repeat count —
    * ONE pass over [[spanOccurrences]] (r19): a count() window keyed
    * on the shingle replaces the old aggregate + semi-join pair, whose
    * probe side re-ran the whole shingles_all kernel over the corpus
    * (occ had no materialization, so each consumer re-tokenized).
    * Counting same-doc repeats — a doc that repeats its own
    * boilerplate is still boilerplate. Skew note: a mega-duplicated
    * boilerplate shingle serializes its window partition where the
    * join form was AQE-splittable; the count-only frame keeps that
    * partition cheap (no buffering), and halving the kernel passes is
    * the bigger lever (guide §1.2). */
  private def withSpanCounts(occ: DataFrame): DataFrame =
    occ.withColumn("cnt", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("sh")))

  /** Per-document duplicated-span statistics: how much of each doc is
    * corpus-duplicated 8-gram text. The per-doc `dup_frac` is the
    * standard filter signal (drop or down-weight docs dominated by
    * duplicated spans). ONE shingle pass + one doc-keyed conditional
    * aggregate (r19 — was three passes over the occurrence stream). */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    withSpanCounts(spanOccurrences(spark, dir))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        count(when(col("cnt") >= 2, 1)).as("n_dup_pos"))
      .select(col("doc_id"), col("n_pos"), col("n_dup_pos"),
        (col("n_dup_pos").cast("double") / col("n_pos")).as("dup_frac"))

  /** Exact duplicated-span REMOVAL: reconstruct each document with
    * every word position covered by a corpus-duplicated 8-gram dropped
    * (the span-level analogue of exact doc dedup; overlapping dup
    * spans merge naturally because coverage is a distinct position
    * set). Output is the cleaned text plus audit counts.
    *
    * Shape at scale: coverage = dup-occurrence rows exploded ×8 then
    * distinct (one shuffle on (doc_id, position)); reconstruction is a
    * per-doc sort of kept positions inside one aggregation — no
    * full-text re-shuffle of the corpus beyond the final groupBy
    * doc_id.
    */
  def stripSpans(spark: SparkSession, dir: String): DataFrame = {
    // Same one-pass discipline as [[dupSpans]] (r19): the old
    // aggregate + semi-join re-ran the shingles_all kernel for the
    // probe side; the window attaches the repeat count in the single
    // pass and the ≥2 filter replaces the semi join.
    val covered = withSpanCounts(spanOccurrences(spark, dir))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanWords - 1))).as("cov"))
      .distinct()
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos", "word")))
    val kept = words.join(covered,
      words("doc_id") === covered("doc_id") && words("pos") === covered("cov"),
      "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        expr("transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"),
        " ").as("clean_text"))
    val sizes = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("n_words"))
    sizes.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ---------------------------------------------------------------- PII

  /** Redaction patterns (the RE2 ∩ java.util.regex dialect, so the
    * DuckDB oracle applies the identical strings). */
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePat = "\\(\\d{3}\\) \\d{3}-\\d{4}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Synthetic contact record per customer — the tables carry no real
    * PII (synthetic TPC-H-ish data), so the operator's input is built
    * deterministically from customer fields; the redactor itself is
    * exactly what would run over real text. */
  private def contactText: Column = concat_ws("",
    col("c_name"), lit(" <"),
    regexp_replace(lower(col("c_name")), lit("#"), lit(".")),
    lit("@example.com> tel ("),
    (col("c_custkey") % 900 + 100), lit(") "),
    (col("c_custkey") * 7 % 900 + 100), lit("-"),
    (col("c_custkey") * 13 % 9000 + 1000),
    lit(" ip 10."),
    (col("c_nationkey") % 256), lit("."),
    (col("c_custkey") % 256), lit("."),
    (col("c_custkey") * 7 % 256))

  /** PII redaction: mask emails, phone numbers and IPv4 addresses with
    * typed placeholders, and count what was masked (the audit trail a
    * release pipeline keeps per shard). Pure narrow projection — the
    * three regexes are precompiled once per codegen instance and the
    * whole operator lives inside one whole-stage-codegen span. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val raw = contactText
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      regexp_replace(
        regexp_replace(
          regexp_replace(raw, lit(EmailPat), lit("<EMAIL>")),
          lit(PhonePat), lit("<PHONE>")),
        lit(Ipv4Pat), lit("<IP>")).as("redacted"),
      regexp_count(raw, lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(raw, lit(PhonePat)).cast("long").as("n_phones"),
      regexp_count(raw, lit(Ipv4Pat)).cast("long").as("n_ips"))
  }

  // ------------------------------------------------------------ driver

  /** Per-SOURCE exact-duplication diagnostics — which ingestion feeds
    * are polluting the corpus: docs vs distinct normalized-content
    * hashes per source, with the dup rate in exact micro-units. The
    * drill-down a data card's corpus-level dup number triggers; one
    * aggregate pass. */
  def sourceDedupRates(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("source"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("content_hash"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("content_hash")).as("n_unique"))
      .selectExpr("source", "n_docs", "n_unique",
        "n_docs - n_unique AS n_dups",
        "(n_docs - n_unique) * 1000000 div n_docs AS dup_rate_micro")

  /** CROSS-SOURCE contamination matrix: for every source pair, the
    * count of shared distinct 8-gram spans and the span-set Jaccard in
    * exact micro-units — which ingestion feeds are copying from each
    * other (mirror sites, syndicated boilerplate). Whole-doc hashes
    * miss this (the corpus has no exact cross-source doc dup); the
    * span level is where feed contamination actually shows. Shape:
    * distinct (source, shingle) pairs meet by shingle equi-join, so a
    * shingle contributes at most |sources|² rows — never doc-pair
    * enumeration; at 100 TB the shingle is xxhash64-masked first and
    * served from the persisted span index (see class doc). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // Materialized once (r19): the distinct (source, shingle) set
    // feeds BOTH self-join sides and the per-source size aggregate —
    // un-checkpointed, the text scan + n-gram explode + distinct
    // shuffle ran three times.
    val sh = Tables.documents(spark, dir)
      .select(col("source"),
        explode(ShinglesAll(col("text"), SpanWords)).as("sh"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_i"), col("b.source").as("source_j"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.select(col("source").as("source_i"),
        col("n").as("n_i"))), "source_i")
      .join(broadcast(sizes.select(col("source").as("source_j"),
        col("n").as("n_j"))), "source_j")
      .selectExpr("source_i", "source_j", "n_i", "n_j", "shared",
        "shared * 1000000 div (n_i + n_j - shared) AS jaccard_micro")
  }

  /** LEAVE-ONE-SOURCE-OUT corpus impact — the data-ablation question
    * ("what does dropping this feed cost the release?") answered
    * WITHOUT one pipeline re-run per source: the jackknife deletion
    * identity applied to corpus curation. Per source: the doc and
    * whitespace-token counts the corpus would have without it, its
    * token share (exact ppm), and `langs_lost` — languages this
    * source ALONE provides (the coverage a drop actually destroys;
    * token share alone hides it). Everything derives from one
    * per-(source, lang) aggregate: excl = totals − group, sole-provider
    * langs from the (source, lang) matrix vs per-lang totals — ONE
    * corpus pass for all |sources| ablations, vs |sources| re-scans
    * at 100 TB.
    */
  def leaveOneSourceOut(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("toks"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_toks"))
      .localCheckpoint()
    val bySource = cells.groupBy("source")
      .agg(sum("n_docs").as("d_s"), sum("n_toks").as("t_s"))
    val byLang = cells.groupBy("lang")
      .agg(sum("n_docs").as("d_l"))
    val tot = cells.agg(sum("n_docs").as("d"), sum("n_toks").as("t"))
    val sole = cells.join(broadcast(byLang), "lang")
      .filter(col("n_docs") === col("d_l"))
      .groupBy("source").agg(count(lit(1)).as("langs_lost"))
    bySource
      .join(broadcast(sole), Seq("source"), "left")
      .crossJoin(tot)
      .select(col("source"),
        (col("d") - col("d_s")).as("docs_excl"),
        (col("t") - col("t_s")).as("tokens_excl"),
        expr("CAST(t_s AS DECIMAL(38,0)) * 1000000 div t")
          .cast("long").as("token_share_ppm"),
        coalesce(col("langs_lost"), lit(0L)).as("langs_lost"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_loso_source_impact" -> leaveOneSourceOut,
    "q_source_dedup_rates" -> sourceDedupRates,
    "q_source_overlap" -> sourceOverlap,
    "q_dup_spans" -> ((s, d) => dupSpans(s, d)),
    "q_strip_spans" -> ((s, d) => stripSpans(s, d)),
    "q_pii_redact" -> ((s, d) => piiRedact(s, d)))

  /** Shared oracle CTE: positional 8-gram occurrences, replaying
    * `shingles_all` (w[i:i+7] is DuckDB's inclusive 1-based slice). */
  private val occSql =
    """t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
      |      FROM documents),
      |occ AS (SELECT doc_id, i - 1 AS pos,
      |               list_aggregate(w[i:i+7], 'string_agg', ' ') AS sh
      |        FROM t, unnest(range(1, len(w) - 6)) AS u(i))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_loso_source_impact" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(length(regexp_split_to_array(lower(text),
        |           '\s+'))) AS BIGINT) AS n_toks
        |  FROM documents GROUP BY 1, 2),
        |bys AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS d_s,
        |               CAST(sum(n_toks) AS BIGINT) AS t_s
        |        FROM cells GROUP BY 1),
        |byl AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS d_l
        |        FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS d,
        |               CAST(sum(n_toks) AS BIGINT) AS t FROM cells),
        |sole AS (
        |  SELECT c.source, CAST(count(*) AS BIGINT) AS langs_lost
        |  FROM cells c JOIN byl ON c.lang = byl.lang
        |  WHERE c.n_docs = byl.d_l GROUP BY 1)
        |SELECT b.source, tot.d - b.d_s AS docs_excl,
        |       tot.t - b.t_s AS tokens_excl,
        |       CAST(CAST(b.t_s AS HUGEINT) * 1000000 // tot.t AS BIGINT)
        |         AS token_share_ppm,
        |       CAST(coalesce(s.langs_lost, 0) AS BIGINT) AS langs_lost
        |FROM bys b LEFT JOIN sole s ON s.source = b.source
        |CROSS JOIN tot""".stripMargin,
    "q_source_dedup_rates" ->
      """WITH h AS (
        |  SELECT source,
        |         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS ch
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT ch) AS BIGINT) AS n_unique,
        |       CAST(count(*) - count(DISTINCT ch) AS BIGINT) AS n_dups,
        |       CAST((count(*) - count(DISTINCT ch)) * 1000000 // count(*)
        |         AS BIGINT) AS dup_rate_micro
        |FROM h GROUP BY 1""".stripMargin,
    "q_source_overlap" ->
      """WITH t AS (
        |  SELECT source, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |sh AS (SELECT DISTINCT source,
        |              list_aggregate(w[i:i+7], 'string_agg', ' ') AS sh
        |       FROM t, unnest(range(1, len(w) - 6)) AS u(i)),
        |s AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.source AS source_i, b.source AS source_j,
        |             count(*) AS shared
        |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT source_i, source_j,
        |       CAST(si.n AS BIGINT) AS n_i, CAST(sj.n AS BIGINT) AS n_j,
        |       CAST(shared AS BIGINT) AS shared,
        |       CAST(shared * 1000000 // (si.n + sj.n - shared) AS BIGINT)
        |         AS jaccard_micro
        |FROM p JOIN s si ON p.source_i = si.source
        |       JOIN s sj ON p.source_j = sj.source""".stripMargin,
    "q_dup_spans" ->
      s"""WITH $occSql,
         |counted AS (SELECT doc_id, pos,
         |                   count(*) OVER (PARTITION BY sh) AS cnt
         |            FROM occ)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
         |       CAST(count(*) FILTER (WHERE cnt >= 2) AS BIGINT) AS n_dup_pos,
         |       CAST(count(*) FILTER (WHERE cnt >= 2) AS DOUBLE) / count(*)
         |         AS dup_frac
         |FROM counted GROUP BY 1""".stripMargin,
    "q_strip_spans" ->
      s"""WITH $occSql,
         |dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT o.doc_id, o.pos + k.k AS cov
         |        FROM occ o JOIN dup USING (sh), unnest(range(0, 8)) AS k(k)),
         |words AS (SELECT doc_id, i - 1 AS pos, w[i] AS word
         |          FROM t, unnest(range(1, len(w) + 1)) AS u(i)),
         |kept AS (SELECT wd.doc_id, wd.pos, wd.word FROM words wd
         |         ANTI JOIN cov c ON wd.doc_id = c.doc_id AND wd.pos = c.cov),
         |rebuilt AS (SELECT doc_id, count(*) AS n_kept,
         |                   string_agg(word, ' ' ORDER BY pos) AS clean_text
         |            FROM kept GROUP BY 1),
         |sizes AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM t)
         |SELECT s.doc_id, s.n_words,
         |       s.n_words - coalesce(r.n_kept, 0) AS n_removed,
         |       coalesce(r.clean_text, '') AS clean_text
         |FROM sizes s LEFT JOIN rebuilt r USING (doc_id)""".stripMargin,
    "q_pii_redact" ->
      s"""WITH raw AS (
         |  SELECT c_custkey,
         |         c_name || ' <' || replace(lower(c_name), '#', '.')
         |           || '@example.com> tel ('
         |           || CAST(c_custkey % 900 + 100 AS VARCHAR) || ') '
         |           || CAST(c_custkey * 7 % 900 + 100 AS VARCHAR) || '-'
         |           || CAST(c_custkey * 13 % 9000 + 1000 AS VARCHAR)
         |           || ' ip 10.' || CAST(c_nationkey % 256 AS VARCHAR)
         |           || '.' || CAST(c_custkey % 256 AS VARCHAR)
         |           || '.' || CAST(c_custkey * 7 % 256 AS VARCHAR) AS txt
         |  FROM customer)
         |SELECT c_custkey,
         |       regexp_replace(regexp_replace(regexp_replace(txt,
         |         '$EmailPat', '<EMAIL>', 'g'),
         |         '$PhonePat', '<PHONE>', 'g'),
         |         '$Ipv4Pat', '<IP>', 'g') AS redacted,
         |       CAST(len(regexp_extract_all(txt, '$EmailPat')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(txt, '$PhonePat')) AS BIGINT) AS n_phones,
         |       CAST(len(regexp_extract_all(txt, '$Ipv4Pat')) AS BIGINT) AS n_ips
         |FROM raw""".stripMargin)
}
