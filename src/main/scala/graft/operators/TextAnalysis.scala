package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Shingles, ShinglesAll}

/** Text-analysis operators for LLM-training-data pipelines (SURVEY.md
  * §2.3 rows 38-41): language ID, quality scoring, token counting,
  * fingerprinting. All are narrow per-row transforms — no shuffle, full
  * codegen, linear scale — exactly what a 100 TB documents sweep needs.
  */
object TextAnalysis {

  /** Tokenization used across the text operators (whitespace). */
  private val tokens = split(lower(col("text")), "\\s+")

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("n_chars"),
        size(tokens).as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .as("bpe_ish_tokens"),
        length(col("text")).as("char_len"))

  /** Per-language tokenizer fertility: subword tokens per whitespace
    * word and characters per subword token, the two ratios that decide
    * how many MODEL tokens a corpus actually costs per language (the
    * number multilingual data budgets are written in). Uses the same
    * BPE-ish segmentation as [[tokenCounts]] so the two reports agree
    * by construction.
    *
    * Plan: one narrow codegen'd projection (two regex counts + a
    * length) feeding a partial+final HashAggregate on lang — a single
    * map-side-combined pass, |langs| rows out. Ratios are exact
    * integral micro-units (BIGINT div), so the per-language budget
    * table is bit-reproducible. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(tokens).cast("long").as("w"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("t"),
        length(col("text")).cast("long").as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("ws_tokens"),
        sum("t").as("bpe_ish_tokens"),
        sum("c").as("chars"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_ish_tokens"), col("chars"),
        // DECIMAL(38) wrap: corpus token sums clear int64/1e6 at 100 TB.
        expr("CAST(CAST(bpe_ish_tokens AS DECIMAL(38,0)) * 1000000" +
          " div ws_tokens AS BIGINT)").as("fertility_ppm"),
        expr("CAST(CAST(chars AS DECIMAL(38,0)) * 1000000" +
          " div bpe_ish_tokens AS BIGINT)").as("chars_per_tok_micro"))

  /** Document chunking: fixed 200-char windows at stride 150 (50-char
    * overlap) — the pre-embedding pass that turns long documents into
    * model-sized pieces. Pure per-row array construction, no shuffle;
    * the digest over the concatenated chunks proves the exact window
    * boundaries survive. Zero-length docs chunk to an empty list (the
    * sequence(0,-1)-descends guard again). */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).as("char_len"),
        expr("""CASE WHEN length(text) = 0 THEN CAST(array() AS ARRAY<STRING>)
                ELSE transform(
                  sequence(0, CAST(floor((length(text) - 1) / 150) AS INT)),
                  i -> substring(text, i * 150 + 1, 200)) END""").as("chunks"))
      .select(col("doc_id"), col("char_len"),
        size(col("chunks")).as("n_chunks"),
        expr("aggregate(chunks, 0L, (a, c) -> a + length(c))")
          .as("sum_chunk_chars"),
        md5(concat_ws("", col("chunks"))).as("chunks_digest"))

  /** Tokenizer-vocabulary coverage: the fraction of all token
    * OCCURRENCES covered by the top-k vocabulary — the number that
    * decides a tokenizer's OOV rate. Two aggregates over one token
    * explode; the k-row vocab broadcasts back against the stream.
    * Coverage is one division of exact counts. */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 1000): DataFrame = {
    val tok = Tables.documents(spark, dir).select(explode(tokens).as("tok"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(k)
      .select(col("tok"), lit(1).as("hit"))
    // One pass over the token stream for BOTH counts: left join against
    // the broadcast vocab, count(*) vs count(hit) — tokenization (the
    // dominant cost at corpus scale) runs twice total (vocab + this),
    // not three times.
    tok.join(broadcast(vocab), Seq("tok"), "left")
      .agg(count(lit(1)).as("total_tokens"),
        count(col("hit")).as("covered_tokens"))
      .select(col("total_tokens"), col("covered_tokens"),
        (col("covered_tokens").cast("double") / col("total_tokens"))
          .as("coverage"))
  }

  /** Repetition ratio — the degenerate-text quality signal (boilerplate,
    * keyword stuffing, decoding loops): fraction of a doc's word
    * trigrams that are repeats of an earlier trigram,
    * `1 - distinct/total`. Distinct counts come from the codegen'd
    * `shingles` expression, totals from the token count — one narrow
    * projection, no shuffle, and the ratio is a single division of
    * exact integers. */
  /** VOCABULARY COVERAGE CURVE at power-of-two ranks: after sorting the
    * vocabulary by frequency (count desc, token tiebreak), what
    * fraction of all token OCCURRENCES do the top 1, 2, 4, 8, …
    * types cover — the Zipf curve a tokenizer/vocab-size decision reads
    * (where vocab-growth counts NEW types per slice, this reports the
    * cumulative occurrence mass per vocab budget). Power-of-two ranks
    * make the report ⌊log₂V⌋ rows at ANY scale factor — the same
    * self-scaling discipline as the doc-length histogram.
    *
    * Plan: one explode + vocab aggregate, then ONE fused
    * [[Packing.withGlobalCumsums]] pass over the post-aggregate vocab
    * table (rank via weight 1 AND cumulative occurrences via weight cnt
    * share the (count desc, token) ordering, so one range shuffle + one
    * window pass carries both — zero unpartitioned windows over the
    * vocab), a codegen'd `(r & (r−1)) = 0` filter, and the broadcast
    * 1-row total. Exact integers end to end (coverage in floor ppm). */
  def coverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(spark, dir)
      .select(explode(tokens).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("neg_cnt", -col("cnt"))
      .withColumn("one", lit(1L))
    val cum = Packing.withGlobalCumsums(v,
      Seq("one" -> "rk0", "cnt" -> "cum_before"), Seq("neg_cnt", "tok"))
      .withColumn("rank", col("rk0") + 1)
      .withColumn("covered_tokens", col("cum_before") + col("cnt"))
    val total = v.agg(sum("cnt").as("total_tokens"))
    cum.filter(expr("(rank & (rank - 1)) = 0"))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("cnt"), col("covered_tokens"),
        col("total_tokens"),
        expr("CAST(1000000 * CAST(covered_tokens AS DECIMAL(38,0))" +
          " div total_tokens AS BIGINT)").as("coverage_ppm"))
  }

  /** Alphabet used by [[charDiversity]]: the 26 lowercase letters plus
    * space. Characters outside it contribute to length but not to the
    * concentration sum — i.e. they count as maximally diverse. */
  private val DiversityAlphabet: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz".map(_.toString) :+ " ")

  /** CHARACTER-DISTRIBUTION diversity gate: per-doc Gini impurity of
    * the character frequency distribution, in exact ppm —
    * `10⁶ − Σ c_i²·10⁶ div n²` over the a-z+space alphabet. Low
    * impurity = a few characters dominate: the classic cheap detector
    * for char-spam, padding runs, and binary-in-text garbage that
    * token-level quality rules miss (a doc of "aaaa…" has perfect
    * word-level stats: one token, full vocab coverage of itself). The
    * log-free Gini form keeps the score engine-exact where a char-level
    * Shannon entropy could not be hash-checked.
    *
    * Plan: ONE codegen'd projection — each per-char count is
    * `length(text) − length(replace(text, ch))`, 27 replace passes
    * fused into the same whole-stage-codegen stage, no shuffle, no
    * explode of the corpus into characters (the n-rows-per-char form
    * would shuffle 10¹² rows at 100 TB; this shape streams). Products
    * go through DECIMAL(38) so a 100 MB document cannot overflow the
    * square. */
  def charDiversity(spark: SparkSession, dir: String): DataFrame = {
    val n = length(col("text")).cast("long")
    val sumSq = DiversityAlphabet
      .map { ch =>
        val c = expr(
          s"CAST(length(text) - length(replace(text, '$ch', '')) AS BIGINT)")
        (c * c).cast("decimal(38,0)")
      }
      .reduce(_ + _)
    Tables.documents(spark, dir)
      .select(col("doc_id"), n.as("n_chars_total"), sumSq.as("sum_sq"))
      .select(col("doc_id"), col("n_chars_total"),
        (lit(1000000L) - expr(
          "sum_sq * 1000000 div (CAST(n_chars_total AS DECIMAL(38,0)) * nullif(n_chars_total, 0))"))
          .as("impurity_ppm"))
      .withColumn("is_low_diversity",
        coalesce(col("impurity_ppm") < 600000L, lit(true)))
  }

  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        greatest(size(tokens) - 2, lit(0)).as("n_trigrams"),
        size(Shingles(col("text"), 3)).as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_trigrams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams")))
      .withColumn("is_repetitive", coalesce(col("rep_ratio") > 0.2, lit(false)))
  }

  /** Quality scoring: length bounds, stopword ratio, mean token length.
    * Ratios are single divisions of exact integers — bit-deterministic.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), tokens.as("toks"),
        length(col("text")).as("char_len"))
      .select(
        col("doc_id"), col("lang"), col("char_len"),
        size(col("toks")).as("n_tokens"),
        size(filter(col("toks"),
          t => t.isin(stop.map(lit(_)): _*))).as("n_stopwords"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("mean_token_len",
        (col("char_len") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
      .withColumn("is_quality",
        col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
          col("stopword_ratio") < 0.5)
  }

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010) — unsupervised
    * keyphrase mining, the corpus-labeling primitive between raw token
    * counts ([[topBigrams]]) and weighted relevance ([[tfidfTopTerms]]):
    * candidate phrases are maximal runs of content tokens between
    * stopword/non-alpha delimiters (gaps-and-islands, every window
    * doc-partitioned), each word scores deg/freq (degree = Σ lengths
    * of phrases it appears in — words that travel in long phrases
    * outrank loners), each phrase scores the sum of its members. All
    * integer-exact: word score is one milli floor-div, phrase score a
    * deterministic sum of those floors, so the top-20 keyphrase list
    * hash-checks. Phrase text assembles via array_sort(collect_list(
    * struct(pos, tok))) — collect_list alone is arrival-ordered and
    * would differ run to run.
    *
    * Plan/scale shape: one posexplode → per-doc bounded windows
    * (islands + phrase length) → (token) aggregate for word stats →
    * token-keyed join back (Zipf-skewed: AQE skew territory, same as
    * the tf-idf join) → (doc, island) aggregate → phrase-text
    * aggregate → TakeOrdered top-k with post-limit rank. */
  def rakeKeywords(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
    val words = toks
      .filter(!col("tok").isin(stop: _*) && col("tok").rlike("^[a-z]+$"))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val wp = words.withColumn("plen",
      count(lit(1)).over(Window.partitionBy("doc_id", "grp")))
    val wscore = wp.groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("tok"),
        expr("CAST(deg * 1000 div freq AS BIGINT)").as("score_milli"))
    val phrases = wp.join(wscore, Seq("tok"))
      .groupBy("doc_id", "grp")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("pt"),
        sum("score_milli").as("score_milli"),
        count(lit(1)).as("n_words"))
      .select(expr("array_join(transform(pt, p -> p.tok), ' ')").as("phrase"),
        col("score_milli"), col("n_words"))
    val w = Window.orderBy(col("score_milli").desc, col("phrase"))
    phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        max("score_milli").as("score_milli"), max("n_words").as("n_words"))
      .orderBy(col("score_milli").desc, col("phrase")).limit(k)
      .withColumn("rk", row_number().over(w))
  }

  /** Language ID by marker-token counts (n-gram/stopword heuristic) —
    * argmax over per-language marker hits, 'und' when nothing matches.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "en" -> Seq("the", "a", "is", "of"),
      "es" -> Seq("el", "la", "de", "que"),
      "fr" -> Seq("le", "la", "et", "les"),
      "de" -> Seq("der", "die", "und", "das"))
    val scored = markers.foldLeft(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), tokens.as("toks"))) {
      case (df, (code, words)) =>
        df.withColumn(s"score_$code",
          size(filter(col("toks"), t => t.isin(words.map(lit(_)): _*))))
    }
    val best = markers.map { case (code, _) => col(s"score_$code") }
      .reduce((a, b) => greatest(a, b))
    val predicted = markers.foldRight(lit("und")) {
      case ((code, _), other) =>
        when(col(s"score_$code") === best && best > 0, lit(code)).otherwise(other)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .select("doc_id", "lang", "predicted_lang")
  }

  /** Language CONFUSION MATRIX: declared `lang` tag vs the n-gram
    * language-ID prediction — the mislabeled-language audit a corpus
    * data card runs before lang-filtered training mixes. One hash
    * aggregate over the lang-ID projection; the per-declared-lang share
    * is exact integer micro-units over a window partitioned by the
    * (bounded-cardinality) declared lang.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_micro",
        expr("n_docs * 1000000 div (sum(n_docs) OVER (PARTITION BY lang))"))

  /** VOCABULARY RICHNESS estimation — how much vocabulary the corpus
    * has NOT yet shown us, from the frequency-of-frequencies: Chao1's
    * lower bound on total vocabulary V + f1²/(2·f2) (bias-corrected
    * V + f1(f1−1)/2 when no doubletons) and the Good-Turing coverage
    * estimate 1 − f1/N — the pair that answers "is more crawling worth
    * it" for a tokenizer/vocab budget (vocab-growth's curve shows the
    * trajectory; this estimates its asymptote). Exact integer
    * micro-units: f1, f2, N are exact counts, so both engines replay
    * the estimators digit-for-digit.
    *
    * Plan: one token explode → vocab hash aggregate (map-side
    * combined) → ONE 1-row conditional aggregate over the vocab table.
    * DECIMAL(38) keeps f1² exact past int64 (f1 ~ 10⁹ at 100 TB). */
  def vocabRichness(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("vocab_size"), sum("cnt").as("n_tokens"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"))
      .selectExpr("vocab_size", "n_tokens", "f1", "f2",
        "vocab_size * 1000000 + CAST(CASE WHEN f2 > 0" +
          " THEN CAST(f1 AS DECIMAL(38,0)) * f1 * 1000000 div (2 * f2)" +
          " ELSE CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) * 1000000 div 2 END" +
          " AS BIGINT) AS chao1_micro",
        "CAST(CAST(n_tokens - f1 AS DECIMAL(38,0)) * 1000000" +
          " div n_tokens AS BIGINT) AS coverage_ppm")

  /** GOOD-TURING smoothing table — the frequency-of-frequencies
    * N_r and the adjusted counts r* = (r+1)·N_{r+1}/N_r for small r,
    * the table a count-based LM (or any probability estimate over the
    * vocab) needs to discount raw counts toward unseen mass;
    * [[vocabRichness]] reports the scalar estimators off the same
    * N_1/N_2, this is the full low-r table. r* is exact integer
    * micro-units; a 0 records "no r+1 class observed" (GT undefined
    * there) — a sentinel both engines agree on, where NULL would be at
    * the mercy of each engine's null-vs-NaN rendering.
    *
    * The report is the `k` RAREST frequency classes (r ascending) —
    * on natural corpora that is r = 1, 2, 3, …; on a corpus with no
    * singletons it is still the low-count tail GT discounts, where a
    * fixed r ≤ 8 cap would return nothing.
    *
    * Plan: vocab hash aggregate → count-of-counts aggregate (output
    * rows = distinct count values, the doc-length-histogram
    * self-scaling discipline) → bottom-k of that post-aggregate table
    * (TakeOrdered on |distinct counts| rows) → self-join on r+1
    * against the full class table. */
  def freqOfFreqs(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val fof = Tables.documents(spark, dir)
      .select(explode(tokens).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt").as("r")).agg(count(lit(1)).as("n_r"))
    val nxt = fof.select((col("r") - 1).as("r"), col("n_r").as("n_next"))
    fof.orderBy(col("r")).limit(k)
      .join(nxt, Seq("r"), "left")
      .select(col("r"), col("n_r"),
        expr("CASE WHEN n_next IS NULL THEN 0L ELSE" +
          " CAST(CAST(r + 1 AS DECIMAL(38,0)) * n_next * 1000000 div n_r" +
          " AS BIGINT) END").as("gt_star_micro"))
  }

  /** COHEN'S KAPPA for the language audit — the chance-corrected
    * agreement between the declared `lang` tag and the n-gram lang-ID
    * prediction, the single number that summarizes the confusion
    * matrix (raw agreement Po flatters a classifier when one language
    * dominates; kappa subtracts the agreement the marginals alone
    * would produce). κ = (Po − Pe) / (1 − Pe), computed in exact
    * integer micro-units as (A·N − Σ_k r_k·c_k)·10⁶ div
    * (N² − Σ_k r_k·c_k) with A the agreement count and r/c the
    * row/column marginals — no floats, bit-reproducible.
    *
    * Plan: everything after the lang-ID projection's single hash
    * aggregate runs on the ≤|langs|² confusion cells — marginal
    * products and the final rationals are constant-size work at any
    * corpus scale. */
  def langKappa(spark: SparkSession, dir: String): DataFrame = {
    // Checkpointed (r19): ≤|langs|² rows, three consumers (row margin,
    // column margin, the Po aggregate) — each re-ran the langId text
    // heuristics over the whole corpus without the materialization.
    val conf = langId(spark, dir)
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val rowM = conf.groupBy("lang").agg(sum("n").as("rn"))
      .withColumnRenamed("lang", "k")
    val colM = conf.groupBy("predicted_lang").agg(sum("n").as("cn"))
      .withColumnRenamed("predicted_lang", "k")
    // Categories absent from either margin contribute 0 to Pe — the
    // inner join is exactly the Σ r_k·c_k sum.
    val pe = rowM.join(colM, "k")
      .agg(sum(expr("CAST(rn AS DECIMAL(38,0)) * cn")).as("src"))
    conf.agg(sum("n").as("n_docs"),
        sum(when(col("lang") === col("predicted_lang"), col("n"))
          .otherwise(0L)).as("n_agree"))
      .crossJoin(broadcast(pe))
      .selectExpr("n_docs", "n_agree",
        "n_agree * 1000000 div n_docs AS po_micro",
        "CAST(src * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)" +
          " AS BIGINT) AS pe_micro",
        "CAST((CAST(n_agree AS DECIMAL(38,0)) * n_docs - src) * 1000000" +
          " div (CAST(n_docs AS DECIMAL(38,0)) * n_docs - src)" +
          " AS BIGINT) AS kappa_micro")
  }

  /** Per-source DISTRIBUTION DIVERGENCE: exact total-variation distance
    * between each source's unigram distribution and the whole-corpus
    * distribution — the domain-shift diagnostic a training-mix designer
    * reads next to the DSIR importance weights (which rank WORDS by
    * target-likeness; this ranks SOURCES by how far they sit from the
    * mix). TV is the log-free member of the divergence family, so it
    * stays exact integer arithmetic: TV_s = ½ Σ_w |c_s(w)/N_s − c(w)/N|
    * = (Σ_{w∈V_s} |c_s(w)·N − c(w)·N_s| + (N − C_s)·N_s)
    * div (2·N_s·N) with C_s = Σ_{w∈V_s} c(w) folding the entire
    * absent-vocabulary tail into one closed form — no outer join
    * against the corpus vocabulary.
    *
    * Plan: ONE token explode → (source, w) hash aggregate (map-side
    * combined); the corpus histogram c(w) aggregates from that
    * post-agg table, not a second corpus pass; the |·| sum is an
    * equi-join on w between two post-aggregate tables (Zipf-skewed key
    * = ordinary AQE equi-join skew), and the report is |sources| rows.
    * DECIMAL(38) keeps c·N products exact past int64 at 100 TB. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    // Checkpointed (r19): the (source, w) histogram has FOUR consumers
    // (corpus histogram, per-source totals, the |·| join, and nTot via
    // wTot) — each re-ran the tokenize+explode+aggregate kernel. The
    // w-keyed join below stays UNPINNED: the vocabulary is corpus-scale,
    // so the join strategy belongs to AQE (it re-promotes to broadcast
    // at small SF from runtime sizes).
    val sw = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cs"))
      .localCheckpoint()
    val wTot = sw.groupBy("w").agg(sum("cs").as("cw"))
    val nS = sw.groupBy("source")
      .agg(sum("cs").as("ns"), count(lit(1)).as("vocab_size"))
    val nTot = wTot.agg(sum("cw").as("nn"))
    sw.join(wTot, "w")
      .join(broadcast(nS), "source")
      .crossJoin(broadcast(nTot))
      .groupBy("source")
      .agg(max("ns").as("n_tokens"), max("vocab_size").as("vocab_size"),
        max("nn").as("nn"),
        sum(abs(expr("CAST(cs AS DECIMAL(38,0)) * nn" +
          " - CAST(cw AS DECIMAL(38,0)) * ns"))).as("num_in"),
        sum("cw").as("c_in"))
      .selectExpr("source", "n_tokens", "vocab_size",
        "CAST((num_in + CAST(nn - c_in AS DECIMAL(38,0)) * n_tokens)" +
          " * 1000000 div (CAST(2 AS DECIMAL(38,0)) * n_tokens * nn)" +
          " AS BIGINT) AS tv_ppm")
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text,
    * truncated to 64 bits — the cheap exact-dedup / shard-routing key.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("norm"))
      .select(
        col("doc_id"),
        substring(md5(col("norm")), 1, 16).as("fingerprint"),
        length(col("norm")).as("norm_len"))

  /** TF-IDF top terms per document, with an exact-integer rational
    * score: score = tf · N · 1e6 div df (linear idf instead of log, so
    * ranking is exact BIGINT arithmetic — no cross-engine libm drift).
    * Three hash aggregates over the token index (tf, df, N) and one
    * ranked window; df joins back via broadcast since the vocabulary is
    * tiny relative to the corpus. */
  def tfIdfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), explode(tokens).as("token"))
    // Checkpointed: df AND the score join both consume tf, and without
    // the materialization each re-runs the tokenize+explode+aggregate
    // kernel over the whole corpus (2× the dominant cost). Both
    // downstream joins carry explicit broadcast hints, so the
    // stats-stripping checkpoint cannot flip them to SMJ (the
    // jaccardPairs negative does not apply).
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_e6").desc, col("token"))
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        // DECIMAL(38) wrap: tf × |corpus docs| × 1e6 clears int64.
        expr("CAST(CAST(tf AS DECIMAL(38,0)) * n_docs * 1000000" +
          " div df AS BIGINT)").as("score_e6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Gopher-style rule-based quality gate (Rae et al., "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", 2021, §A1.1 repetition/quality filters — the rule FAMILY,
    * re-derived): per-document boolean rules, each an exact-integer
    * cross-multiplied comparison so the kept SET is bit-reproducible —
    * a corpus gate you can re-run at 100 TB and get the same corpus.
    *
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10]   (3n ≤ Σlen ≤ 10n)
    *   - symbol-to-word ratio ≤ 0.1    ('#' + '...' ; 10·sym ≤ n)
    *   - ≥ 80% of words alphabetic     (10·alpha ≥ 8n)
    *   - ≥ 2 distinct required stopwords
    *
    * One narrow projection, no shuffle; the HOF folds are per-row over
    * short token arrays (at real corpus scale the Σlen/alpha counts
    * would move into a custom codegen'd expression like `Shingles`).
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    withGateRules(gateMetrics(spark, dir).drop("n_stop"))

  /** The gate's metric projection, shared by [[qualityGate]] and
    * [[mcnemarGates]] (one definition, the filter_bias discipline);
    * carries the legacy gate's `n_stop` too so the drift test costs
    * ONE scan — qualityGate drops it to keep its oracle schema. */
  private def gateMetrics(spark: SparkSession, dir: String): DataFrame = {
    val reqStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stop7 = Seq("the", "a", "of", "and", "to", "in", "is")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), tokens.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_words"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("word_chars"),
        size(filter(col("toks"), t => t.rlike("[a-z]"))).as("n_alpha"),
        size(array_intersect(array_distinct(col("toks")),
          array(reqStop.map(lit(_)): _*))).as("n_req_stop"),
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).as("n_symbols"),
        size(filter(col("toks"),
          t => t.isin(stop7.map(lit(_)): _*))).as("n_stop"))
  }

  /** The five Gopher rule columns + `keep`, applied to a
    * [[gateMetrics]] projection — the ONE place the rule thresholds
    * live on the Spark side (the SQL side's single place is the
    * r*Sql/gateKeepSql vals). */
  private def withGateRules(m: DataFrame): DataFrame =
    m.withColumn("r_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_word_len",
        lit(3) * col("n_words") <= col("word_chars") &&
          col("word_chars") <= lit(10) * col("n_words"))
      .withColumn("r_symbol_ratio",
        lit(10) * col("n_symbols") <= col("n_words"))
      .withColumn("r_alpha_words",
        lit(10) * col("n_alpha") >= lit(8) * col("n_words"))
      .withColumn("r_stopwords", col("n_req_stop") >= 2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_alpha_words") && col("r_stopwords"))

  /** McNEMAR'S PAIRED TEST between the deployed Gopher gate
    * ([[qualityGate]]'s rules via the SHARED [[withGateRules]] — the
    * test can never disagree with the gate it tests) and
    * the legacy length+stopword gate ([[qualityScore]]'s is_quality
    * rule in exact integer form) — the right significance test when
    * comparing two FILTERS on the SAME documents: only the
    * disagreement cells (kept-by-A-only, kept-by-B-only) carry
    * information, and χ² = (b−c)²/(b+c) is exact in milli with a
    * DECIMAL(38) wrap (the docs-count² product passes int64 at
    * ~3·10⁹ docs). The concordant cells ride along as the audit
    * columns a gate-migration review reads.
    *
    * Plan/scale shape: ONE documents scan → one codegen projection
    * computing both gates' metrics → one 1-row conditional aggregate.
    */
  def mcnemarGates(spark: SparkSession, dir: String): DataFrame = {
    withGateRules(gateMetrics(spark, dir))
      .withColumn("ga", col("keep"))
      .withColumn("gb",
        col("n_words") >= 20 && col("n_words") <= 1000 &&
          lit(2) * col("n_stop") < col("n_words"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("ga") && col("gb"), 1)).as("n_both"),
        count(when(col("ga") && !col("gb"), 1)).as("n_only_a"),
        count(when(!col("ga") && col("gb"), 1)).as("n_only_b"),
        count(when(!col("ga") && !col("gb"), 1)).as("n_neither"))
      .withColumn("chi2_milli",
        expr("CAST(CASE WHEN n_only_a + n_only_b = 0 THEN 0 ELSE" +
          " (CAST(n_only_a AS DECIMAL(38,0)) - n_only_b)" +
          " * (CAST(n_only_a AS DECIMAL(38,0)) - n_only_b) * 1000" +
          " div (CAST(n_only_a AS DECIMAL(38,0)) + n_only_b)" +
          " END AS BIGINT)"))
  }

  /** FILTER-BIAS audit — who does the quality gate actually drop? Per
    * LANGUAGE, the Gopher-gate pass rate plus the two dominant failure
    * reasons, in exact ppm. Quality filters tuned on one language
    * silently skew the mix (the required-stopword rule here is
    * English — every non-English slice fails it, which is precisely
    * the bias this audit makes visible before a filtered corpus ships;
    * the per-language rates are what a mix designer re-weights
    * against). Built ON [[qualityGate]]'s own columns via a key join,
    * so the audit can never disagree with the gate it audits.
    *
    * Plan: the gate projection (narrow, codegen) + one key equi-join
    * for the lang tag + one |langs|-row map-side-combined aggregate. */
  def filterBias(spark: SparkSession, dir: String): DataFrame =
    qualityGate(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("r_stopwords"), 1L).otherwise(0L))
          .as("fail_stopwords"),
        sum(when(!col("r_word_count"), 1L).otherwise(0L))
          .as("fail_word_count"))
      .selectExpr("lang", "n_docs", "n_pass",
        "n_pass * 1000000 div n_docs AS pass_ppm",
        "fail_stopwords", "fail_word_count")

  /** Default probe phrase — the SINGLE source of truth for both the
    * registered `q_phrase_search` operator and its generated oracle SQL
    * ([[phraseSearchSql]]), so operator and oracle cannot drift. */
  private[graft] val DefaultPhrase: Seq[String] = Seq("fast", "table", "scan")

  /** (doc_id, pos, tok) positional token index written to parquet once
    * and handed back as the on-disk copy — the positional sibling of
    * `Dedup.persistedShingleIndex`: at corpus scale every phrase query
    * re-tokenizing raw text is the dominant cost, so the pipeline
    * materializes the index once and each phrase query is a single
    * pushdown-filtered columnar scan of it. */
  private[graft] def persistedTokenIndex(
      spark: SparkSession, dir: String, out: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  /** The build-once token index: the index-build / index-serve split —
    * every phrase query serves from the same parquet. */
  private[graft] val TokenIndex = graft.Indexes.Artifact("token-ix") {
    (spark, dir, out) => persistedTokenIndex(spark, dir, out)
  }

  /** Exact phrase search over the persisted positional inverted index —
    * the IR primitive behind "find verbatim quotes of X in the corpus"
    * (attribution sweeps, memorization probes). See
    * [[phraseSearchIndexed]] for the single-scan plan shape. */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: Seq[String] = DefaultPhrase): DataFrame =
    phraseSearchIndexed(spark.read.parquet(TokenIndex.path(spark, dir)), phrase)

  private[graft] val DefaultPrefixes = Seq("s", "c", "f")

  /** PREFIX SEARCH / autocomplete served from the persisted token
    * index: top-k completions per prefix ranked by corpus occurrence
    * count. Each prefix is one index scan with the `StartsWith`
    * predicate PUSHED to parquet (`PushedFilters:
    * [StringStartsWith(tok,…)]` — with the index range-laid-out on tok,
    * footer min/max stats open only the matching row groups, the
    * B-tree-free columnar analog of a term-dictionary seek), one
    * map-side-combined count aggregate, and a WindowGroupLimit-capped
    * per-prefix top-k over the post-aggregate completion table — never
    * a text rescan. */
  def prefixSearch(spark: SparkSession, dir: String,
      prefixes: Seq[String] = DefaultPrefixes, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ix = spark.read.parquet(TokenIndex.path(spark, dir))
    prefixes.map { p =>
      ix.filter(col("tok").startsWith(p))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .select(lit(p).as("prefix"), col("tok"), col("cnt"))
    }.reduce(_ unionAll _)
      .withColumn("rn", row_number().over(
        Window.partitionBy("prefix").orderBy(col("cnt").desc, col("tok"))))
      .filter(col("rn") <= k)
  }

  /** Build-once corpus VOCAB index: (w, cnt) token occurrence counts as
    * parquet — the shared artifact the rarity/surprisal family joins
    * back against. Persisting it (vs an inline groupBy) is what makes
    * the Zipf-skewed token join-back AQE-skew-splittable at all: see
    * [[docRarityFrom]]. */
  private[graft] val VocabIndex = graft.Indexes.Artifact("vocab-ix") {
    (spark, dir, out) =>
      Tables.documents(spark, dir)
        .select(explode(tokens).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(out)
  }

  /** Phrase match as ONE scan of the positional index: filter postings
    * to the phrase's terms (pushed to the parquet scan), explode each
    * posting over the phrase slot(s) its token fills, and align on
    * `anchor = pos − slot` — a full match at start position `anchor`
    * iff all L slots report in, which is one `groupBy (doc_id, anchor)`
    * count (each slot contributes at most one row per anchor since
    * (doc_id, pos) is unique). Candidate volume is the SUM of the
    * phrase terms' posting lists — never a text rescan, never one
    * index pass per term like the naive consecutive-join plan. */
  private[graft] def phraseSearchIndexed(
      ix: DataFrame, phrase: Seq[String]): DataFrame = {
    // token → phrase slots it occupies (a literal map; handles phrases
    // with repeated words).
    val slots = phrase.zipWithIndex.groupBy(_._1).view
      .mapValues(_.map(_._2)).toSeq
    val slotMap = map(slots.flatMap { case (w, ss) =>
      Seq(lit(w), array(ss.map(lit(_)): _*))
    }: _*)
    ix.filter(col("tok").isin(phrase.distinct: _*))
      .select(col("doc_id"), col("pos"), explode(slotMap(col("tok"))).as("slot"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("anchor"))
      .filter(col("anchor") >= 0)
      .groupBy("doc_id", "anchor")
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") === phrase.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("anchor").as("first_pos"))
  }

  /** First BPE merge decision: global counts of adjacent character
    * pairs inside words — the statistic byte-pair-encoding training
    * computes each round (Sennrich, Haddow & Birch, "Neural Machine
    * Translation of Rare Words with Subword Units", 2016). Top-20 by
    * (count, pair). The per-word pair extraction is a short HOF fold
    * (tokens are ≤ ~10 chars); a full tokenizer-training run would make
    * it a codegen'd expression like `Shingles`, but the aggregate —
    * partial map-side counts, one shuffle on the pair — is already the
    * 100 TB shape. */
  def bpePairCounts(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("pair"))
    Tables.documents(spark, dir)
      .select(explode(tokens).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Number of BPE merge rounds for the registered query — the single
    * source of truth for operator and generated oracle. */
  private[graft] val BpeRounds = 5

  /** ITERATIVE BPE training (Sennrich, Haddow & Birch 2016): [[BpeRounds]]
    * greedy merge rounds over the corpus word-frequency table,
    * returning the learned merge list — the actual tokenizer-training
    * loop, of which [[bpePairCounts]] is one round's statistic.
    *
    * Representation: each distinct word (weighted by corpus count — the
    * standard vocab-table reduction, so the loop's cost scales with
    * VOCABULARY not corpus size) is held as its symbol sequence joined
    * by a two-space delimiter and padded: `"  h  e  l  l  o  "`.
    * A merge of (a, b) is then the literal (non-regex) substring
    * replacement `" a  b " → " ab "`, whose left-to-right non-overlap
    * semantics are exactly BPE's greedy scan AND identical between
    * Spark's `replace` and DuckDB's — so the oracle replays the whole
    * adaptive loop as an unrolled CTE chain, bit-for-bit. The
    * single-space borders of the pattern make a match impossible except
    * at exact symbol boundaries (symbols never contain spaces).
    *
    * Each round: adjacent-pair counts (one map-side-partial aggregate
    * over the vocab), top-1 by (count, pair) — broadcast joined into
    * the next round's replacement, NO driver-side collect of data. The
    * per-round `localCheckpoint` keeps the k-round plan linear instead
    * of exponential (each round references the previous round twice:
    * once for pairs, once for the rewrite), the same fixpoint
    * materialization discipline as the connected-components loop.
    *
    * The merge table (merge_round, lhs, rhs, merged, pair_count) is a
    * corpus artifact: the tokenizer is TRAINED once per corpus and
    * applied everywhere (the persisted merge list IS what a tokenizer
    * release ships). */
  private[graft] val BpeMerges = graft.Indexes.Artifact("bpe-merges") {
    (spark, dir, out) =>
      bpeTrain(spark, dir).zipWithIndex.map { case (best, i) =>
        best.select(lit(i + 1).as("merge_round"), col("l").as("lhs"),
          col("r").as("rhs"), concat(col("l"), col("r")).as("merged"),
          col("cnt").as("pair_count"))
      }.reduce(_ unionAll _)
        .coalesce(1).write.mode("overwrite").parquet(out)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(BpeMerges.path(spark, dir))

  /** The training loop proper: returns the per-round best-pair tables
    * (each a checkpointed single row (l, r, cnt)), in merge order —
    * the build of [[BpeMerges]]. */
  private[graft] def bpeTrain(spark: SparkSession,
      dir: String): Seq[DataFrame] = {
    var words = Tables.documents(spark, dir)
      .select(explode(tokens).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(concat(lit("  "), regexp_replace(col("word"), "(.)", "$1  "))
        .as("s"), col("cnt"))
      .localCheckpoint()
    (1 to BpeRounds).map { _ =>
      val pairs = words
        .select(split(trim(col("s")), "  ").as("syms"), col("cnt"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).localCheckpoint()
      words = words
        .crossJoin(broadcast(best.select(col("l").as("bl"), col("r").as("br"))))
        .select(expr(
          "replace(s, ' ' || bl || '  ' || br || ' ', ' ' || bl || br || ' ')")
          .as("s"), col("cnt"))
        .localCheckpoint()
      best
    }
  }

  /** ENCODE with the learned merges: apply the k trained BPE merges, in
    * merge order, and report per-document symbol counts before/after —
    * the train→apply split of tokenizer deployment.
    *
    * Two deliberate scale moves: (1) the merge table (k rows — the
    * artifact a tokenizer release ships) is collected ONCE and folded
    * into the plan as k LITERAL `replace` steps — one codegen'd
    * projection chain, no per-round broadcast joins or index re-reads;
    * (2) merges apply to the per-document WORD VOCABULARY, not to
    * every token occurrence — each distinct (doc, word) is encoded
    * once and multiplied by its occurrence count in the final
    * aggregate, so the string work scales with vocabulary while the
    * corpus only pays an explode + groupBy. Identical per-word results
    * by construction (BPE is a pure word function). */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMerges(spark, dir)
      .orderBy("merge_round")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n_occ"))
    var s: org.apache.spark.sql.Column =
      concat(lit("  "), regexp_replace(col("word"), "(.)", "$1  "))
    for ((bl, br) <- merges)
      s = replace(s, lit(s" $bl  $br "), lit(s" $bl$br "))
    occ
      .select(col("doc_id"), col("n_occ"),
        length(col("word")).cast("long").as("n_chars"),
        size(split(trim(s), "  ")).cast("long").as("n_syms"))
      .groupBy("doc_id")
      .agg(sum(col("n_occ") * col("n_chars")).as("n_chars"),
        sum(col("n_occ") * col("n_syms")).as("n_bpe_tokens"))
      .withColumn("merges_saved", col("n_chars") - col("n_bpe_tokens"))
  }

  /** Oracle for [[bpeMerges]], generated for the SAME round count: the
    * adaptive merge loop unrolled as a CTE chain (w0 → p1/b1/w1 → …),
    * each round's best pair applied with the same literal two-space
    * replacement — see bpeMerges for why the two engines' `replace`
    * agree exactly. */
  /** The shared training CTE chain `WITH w0, p1, b1, w1, …, wk` —
    * prefix of both generated oracles. */
  private def bpeTrainCtes(rounds: Int): String = {
    val base =
      """WITH w0 AS (
        |  SELECT '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS s, cnt
        |  FROM (SELECT tok AS word, count(*) AS cnt
        |        FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |              FROM documents)
        |        WHERE length(tok) >= 1 GROUP BY 1))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (
         |  SELECT pr.l AS l, pr.r AS r, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(list_transform(range(2, len(syms) + 1),
         |               i -> {'l': syms[i-1], 'r': syms[i]})) AS pr, cnt
         |        FROM (SELECT str_split(trim(s), '  ') AS syms, cnt FROM w${r - 1})
         |        WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |w$r AS (SELECT replace(s, ' ' || b.l || '  ' || b.r || ' ',
         |                       ' ' || b.l || b.r || ' ') AS s, w.cnt
         |        FROM w${r - 1} w CROSS JOIN b$r b)""".stripMargin
    }
    (base +: roundCtes).mkString(",\n")
  }

  private[graft] def bpeMergesSql(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS INT) AS merge_round, l AS lhs, r AS rhs,
         |       l || r AS merged, cnt AS pair_count FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    bpeTrainCtes(rounds) + "\n" + unions
  }

  /** Oracle for [[bpeEncode]]: the same training CTE chain as
    * [[bpeMergesSql]] (b1..bk), then the k merges applied to every
    * token occurrence and rolled up per document. */
  private[graft] def bpeEncodeSql(rounds: Int): String = {
    val e0 =
      """e0 AS (
        |  SELECT doc_id, CAST(length(word) AS BIGINT) AS n_chars,
        |         '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS s
        |  FROM (SELECT doc_id,
        |               unnest(regexp_split_to_array(lower(text), '\s+')) AS word
        |        FROM documents)
        |  WHERE length(word) >= 1)""".stripMargin
    val applyCtes = (1 to rounds).map { r =>
      s"""e$r AS (
         |  SELECT doc_id, n_chars,
         |         replace(s, ' ' || b.l || '  ' || b.r || ' ',
         |                 ' ' || b.l || b.r || ' ') AS s
         |  FROM e${r - 1} CROSS JOIN b$r b)""".stripMargin
    }
    val fin =
      s"""SELECT doc_id, CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |       CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
         |       CAST(sum(n_chars) - sum(n_syms) AS BIGINT) AS merges_saved
         |FROM (SELECT doc_id, n_chars,
         |             CAST(len(str_split(trim(s), '  ')) AS BIGINT) AS n_syms
         |      FROM e$rounds)
         |GROUP BY doc_id""".stripMargin
    (Seq(bpeTrainCtes(rounds), e0) ++ applyCtes).mkString(",\n") + "\n" + fin
  }

  /** Top PMI collocations: bigrams whose observed frequency most
    * exceeds the independence expectation — the classic collocation /
    * multi-word-expression detector (Church & Hanks 1990). PMI =
    * log(p(xy)/(p(x)p(y))) is ranked WITHOUT logs or floats: the ratio
    * c_xy·N² / (M·c_x·c_y) is monotone in PMI, and its floor at 10⁻⁶
    * resolution is computed in DECIMAL(38) / HUGEINT exact integer
    * arithmetic (`div` → BIGINT micro-units), so the ranking — and the
    * hash — cannot drift between engines. Min support c_xy ≥ 5 bounds
    * the candidate set before the vocab joins; the final top-k window
    * runs over that aggregate-bounded input. */
  def pmiCollocations(spark: SparkSession, dir: String, k: Int = 20,
      minCount: Long = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Checkpointed (r19): the unigram histogram has THREE consumers
    // (total + both vocab joins) and the bigram histogram TWO (total +
    // the candidate stream) — five text-kernel runs collapse to the
    // two distinct kernels (tokens, 2-shingles) the query declares.
    // The vocab joins stay unpinned (corpus-scale keys; AQE decides).
    val uni = docs.select(explode(tokens).as("x"))
      .groupBy("x").agg(count(lit(1)).as("cx"))
      .localCheckpoint()
    val nTot = uni.agg(sum("cx").as("n"))
    val bi = docs.select(explode(ShinglesAll(col("text"), 2)).as("xy"))
      .groupBy("xy").agg(count(lit(1)).as("cxy"))
      .localCheckpoint()
    val mTot = bi.agg(sum("cxy").as("m"))
    val w = Window.orderBy(col("pmi_micro").desc, col("xy"))
    bi.filter(col("cxy") >= minCount)
      .select(col("xy"), col("cxy"),
        split(col("xy"), " ").getItem(0).as("xw"),
        split(col("xy"), " ").getItem(1).as("yw"))
      .filter(length(col("xw")) >= 1 && length(col("yw")) >= 1)
      .join(uni.select(col("x").as("xw"), col("cx")), "xw")
      .join(uni.select(col("x").as("yw"), col("cx").as("cy")), "yw")
      .crossJoin(broadcast(nTot))
      .crossJoin(broadcast(mTot))
      .select(col("xy"), col("cxy"), col("cx"), col("cy"),
        expr("CAST(cxy AS DECIMAL(38,0)) * n * n * 1000000" +
          " div (CAST(m AS DECIMAL(38,0)) * cx * cy)").as("pmi_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Edit-distance bucketing of part names against a probe string —
    * the string-distance operator family (fuzzy matching / canonical-
    * ization in entity resolution pipelines).
    */
  def editDistanceBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        levenshtein(lower(col("p_name")), lit("steel plate")).as("edit_dist"))
      .groupBy("edit_dist")
      .agg(count(lit(1)).as("n_parts"),
        min("p_partkey").as("min_partkey"))

  /** BM25 query terms and parameters. k1 = 1.2 and b = 0.75 enter the
    * formula only through the exact rationals 22/10, 3/10, 9/10 (see
    * [[bm25TopDocs]]), so no float constant ever rounds. */
  val Bm25Terms: Seq[String] = Seq("spark", "table", "fast")

  /** BM25 ranking, engine-exact: the classic
    * idf·tf·(k1+1) / (tf + k1·(1−b + b·len/avgdl)) per term, algebra'd
    * into a ratio of two int64 products (multiply through by 10·N·n and
    * use the log-free Robertson idf (n−df+½)/(df+½) = (2n−2df+1)/(2df+1)):
    *
    *   score_t = (2n−2df+1)·22·tf·N / ((2df+1)·(10·tf·N + 3·N + 9·len·n))
    *
    * with n = #docs, N = Σ len (so avgdl = N/n never materializes as a
    * float). Each term's score is ONE integer-ratio division; the three
    * terms add in fixed left-assoc order — bit-identical in both
    * engines, where a textbook float BM25 (log, float avgdl, SUM over a
    * group) would drift. One token-explode pass computes tf and len;
    * corpus stats broadcast as a 1-row cross join. Top-10 by (score,
    * doc_id). */
  def bm25TopDocs(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("w"))
    val tfCols = Bm25Terms.map(t =>
      count(when(col("w") === t, 1)).as(s"tf_$t"))
    val perDoc = words.groupBy("doc_id")
      .agg(count(lit(1)).as("len"), tfCols: _*)
    val dfCols = sum("len").as("nsum") +: Bm25Terms.map(t =>
      count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t"))
    val stats = perDoc.agg(count(lit(1)).as("n"), dfCols: _*)
    // The OUTER products run in DECIMAL(38,0) (HUGEINT in the oracle):
    // num ≈ 2n·22·tf·N and den ≈ 2df·(10·tf·N) pass 2^63 around
    // sf10-scale corpora, where int64 would wrap silently. The inner
    // den sum stays int64 (≤ ~10·tf·N, safe far past that).
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val contribs = Bm25Terms.map { t =>
      val tf = col(s"tf_$t"); val df = col(s"df_$t")
      val num =
        dec(lit(2) * col("n") - lit(2) * df + 1) * 22 * dec(tf) * dec(col("nsum"))
      val den = dec(lit(2) * df + 1) *
        dec(lit(10) * tf * col("nsum") + lit(3) * col("nsum") +
          lit(9) * col("len") * col("n"))
      num.cast("double") / den.cast("double")
    }
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    // Barrier: without it Catalyst folds the whole scoring expression
    // into the broadcast-nested-loop join CONDITION via the score > 0
    // pushdown (the exact regression class PlanRegressionSpec guards —
    // it caught this one).
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("len"),
        graft.functions.OptimizerBarrier(
          round(contribs.reduceLeft(_ + _), 6)).as("score"))
      .filter(col("score") > 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Per-document mean inverse unigram probability in exact micro-units
    * — the engine-exact stand-in for LM surprisal: rare-token-heavy
    * documents score high, boilerplate scores low. Each token
    * contributes floor(10⁶·N/cnt) (N = corpus token occurrences, cnt =
    * this token's count — exactly 10⁶/p̂(token)); the per-doc mean
    * divides the DECIMAL(38) sum by doc length. All integer floor-divs,
    * so the score — and every ranking built on it — is bit-identical
    * across engines and partitionings, which a log-space perplexity
    * never is.
    *
    * Scale: one token explode, one vocab aggregate (map-side partial),
    * one token-keyed join back. The join key is Zipf-skewed ("the"
    * carries ~5% of rows) — ordinary equi-join skew, handled by AQE
    * skew split / salting, never pair explosion. */
  def docRarity(spark: SparkSession, dir: String): DataFrame =
    docRarityFrom(Tables.documents(spark, dir),
      spark.read.parquet(VocabIndex.path(spark, dir)))

  /** Operator body on arbitrary (doc_id, lang, text) docs and a
    * SCAN-SOURCED (w, cnt) vocab — the seam ScaleToolsSpec uses to
    * prove the declared AQE answer to the Zipf-skewed token join on
    * THIS operator's own plan (same pattern as Dedup.erPairsFrom).
    *
    * The vocab MUST arrive as a scan (the build-once
    * [[VocabIndex]]), not an inline groupBy: Spark's
    * OptimizeSkewedJoin only matches SMJ(Sort(ShuffleStage),
    * Sort(ShuffleStage)), and an inline count aggregate is already
    * hash-partitioned on the join key, so no exchange — and therefore
    * no splittable stage — ever appears between it and the join. With
    * the earlier inline-vocab shape the operator's "skew is AQE's job"
    * claim was UNREACHABLE (ScaleToolsSpec proved it); serving the
    * vocab from parquet is also simply the 100 TB design — the token
    * count table is a build-once corpus artifact shared by rarity /
    * fertility / coverage-style consumers. */
  private[graft] def docRarityFrom(docs: DataFrame,
      vocab: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), col("lang"), explode(tokens).as("w"))
    val total = vocab.agg(sum("cnt").as("nn"))
    words.join(vocab, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("lang"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * nn div cnt").as("inv_p"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("inv_p").cast("decimal(38,0)")).as("s"))
      .selectExpr("doc_id", "lang", "n_tokens",
        "s div n_tokens AS rarity_micro")
  }

  /** CCNet-style quality buckets (Wenzek et al., LREC 2020): split each
    * language's documents into head / middle / tail terciles of the
    * [[docRarity]] score — the bucketing a curriculum or
    * quality-filtered pretraining mix consumes. The per-language tercile
    * is the distributed exact grouped rank ([[Profiling.withGroupedRank]]
    * — range shuffle + broadcast prefix offsets + (pid, lang)-local
    * window), so one dominant language never serializes through a
    * single `PARTITION BY lang` window task; bucket assignment is the
    * closed-form ntile arithmetic, engine-exact. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    Profiling.withGroupedRank(docRarity(spark, dir),
      groupCol = "lang", valueCol = "rarity_micro", keyCol = "doc_id")
      .selectExpr("lang", "rarity_micro", "rk0",
        "n div 3 AS q", "n % 3 AS r")
      .selectExpr("lang", "rarity_micro",
        "CASE WHEN rk0 < r * (q + 1) THEN rk0 div (q + 1) " +
          "ELSE r + (rk0 - r * (q + 1)) div q END + 1 AS b")
      .selectExpr("lang",
        "CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
          "ELSE 'tail' END AS bucket",
        "rarity_micro")
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("rarity_micro").as("lo_micro"),
        max("rarity_micro").as("hi_micro"))

  /** Vocabulary-growth (Heaps'-law) curve: distinct-token count after
    * ingesting the first 20/40/60/80/100 % of the corpus in doc_id
    * order — the profiling curve that says whether a corpus is still
    * contributing new vocabulary or has gone redundant (the flattening
    * point is where further same-source data stops paying for itself).
    *
    * Exact and one-pass: each token's FIRST document (min doc_id) is
    * one map-side-combined aggregate over the exploded corpus; the five
    * checkpoints come from a broadcast 1-row total, and the curve is a
    * count over |vocab| × 5 rows. No prefix re-scans — the first-seen
    * table answers every checkpoint at once, which is what makes the
    * curve affordable at 100 TB (the naive form re-counts distinct
    * tokens per prefix). */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val firstSeen = docs.select(col("doc_id"), explode(tokens).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
    val th = docs.agg(count(lit(1)).as("n_total"))
      .select(explode(array((1 to 5).map(p => lit(p * 20)): _*)).as("pct"),
        col("n_total"))
      .select(col("pct"), expr("n_total * pct div 100").as("n_docs"))
    firstSeen.crossJoin(broadcast(th))
      .filter(col("first_doc") < col("n_docs"))
      .groupBy("pct", "n_docs")
      .agg(count(lit(1)).as("vocab_size"))
  }

  /** READABILITY scores (Flesch Reading Ease + Flesch-Kincaid grade)
    * in exact milli units — the classic pedagogical quality features a
    * curriculum or audience filter keys on, beside the Gopher gate's
    * structural rules. Counts are pure regexp aggregates (codegen'd,
    * no UDF): words = whitespace tokens, sentences = terminal
    * punctuation runs `[.!?]+` (floored at 1 — headlines have no
    * period), syllables ≈ vowel runs `[aeiou]+` over the lowercased
    * text (runs cannot span words, so no per-word explode is needed —
    * one regexp pass per doc). The published coefficients are
    * milli-scaled integers (206.835 → 206835) and every ratio is one
    * floor-div, so the scores replay digit-for-digit; FRE can go
    * negative on degenerate text (that is the signal). */
  def readability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens).cast("long").as("words"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long"))
          .as("sentences"),
        greatest(lit(1L),
          regexp_count(lower(col("text")), lit("[aeiou]+")).cast("long"))
          .as("syllables"))
      .withColumn("words", greatest(lit(1L), col("words")))
      .select(col("doc_id"), col("lang"), col("words"), col("sentences"),
        col("syllables"),
        expr("206835 - 1015 * words div sentences" +
          " - 84600 * syllables div words").as("fre_milli"),
        expr("390 * words div sentences + 11800 * syllables div words" +
          " - 15590").as("fk_grade_milli"))

  /** Bin count for [[featureHashAudit]]; the oracle replays the same
    * modulus. */
  val FeatureHashBins = 64L

  /** FEATURE-HASHING (hashing-trick) AUDIT — before a large-scale
    * linear model trains on hashed bag-of-words features, this is the
    * collision report that decides the bin count: every distinct token
    * hashes to bin md5(tok) % 64, and each bin reports its vocabulary
    * load (distinct tokens colliding there), total occurrence mass,
    * occurrence share ppm, and the heaviest single token's share of
    * the bin (how much one word dominates its bucket — near 10⁶ means
    * the collision is harmless, near uniform means feature smearing).
    * One token aggregate + one 64-row rollup; output bounded at any
    * corpus size. */
  def featureHashAudit(spark: SparkSession, dir: String): DataFrame = {
    val tc = Tables.documents(spark, dir)
      .select(explode(tokens).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("bin",
        expr("CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)" +
          s" % $FeatureHashBins"))
    tc.groupBy("bin")
      .agg(count(lit(1)).as("n_vocab"), sum("cnt").as("n_occ"),
        max("cnt").as("max_tok_occ"))
      .crossJoin(broadcast(tc.agg(sum("cnt").as("tot"))))
      .select(col("bin"), col("n_vocab"), col("n_occ"),
        expr("n_occ * 1000000 div tot").as("occ_share_ppm"),
        expr("max_tok_occ * 1000000 div n_occ").as("dominance_ppm"))
  }

  /** Pairwise SOURCE VOCABULARY OVERLAP — exact Jaccard between the
    * distinct-token sets of every source pair, the lexical
    * complement of the span-level contamination matrix (shared
    * n-grams say "copied text"; shared vocabulary says "same
    * register/domain" — a mixture design reads both). The join is on
    * the DISTINCT (source, token) table, so each token fans out to at
    * most |sources|² rows regardless of its corpus frequency — the
    * Zipf head cannot skew this join by construction. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens).as("tok"))
      .distinct()
      .localCheckpoint() // feeds sizes + both join sides
    val sizes = st.groupBy("source").agg(count(lit(1)).as("nv"))
    st.as("a").join(st.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.withColumnRenamed("source", "s1")
        .withColumnRenamed("nv", "nv1")), "s1")
      .join(broadcast(sizes.withColumnRenamed("source", "s2")
        .withColumnRenamed("nv", "nv2")), "s2")
      .select(col("s1"), col("s2"), col("nv1"), col("nv2"), col("inter"),
        expr("inter * 1000000 div (nv1 + nv2 - inter)")
          .as("jaccard_ppm"))
  }

  /** LABELING-FUNCTION AGREEMENT AUDIT (data programming, Ratner et
    * al. VLDB'17 "Snorkel" shape) — before weak labels train
    * anything, the pairwise agreement/conflict matrix of the labeling
    * functions is what says whether they carry signal or noise. Three
    * deterministic LFs vote keep(1)/drop(0)/abstain(NULL) per doc —
    * length, required-stopword presence, alpha-token share (all
    * integer comparisons, no floats) — and the report is, per LF
    * pair: overlap (both voted), agreement, conflict, and the
    * agreement rate in ppm. One projection + one aggregate; 3 bounded
    * rows out. */
  def lfAudit(spark: SparkSession, dir: String): DataFrame = {
    val stops = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"
    val lfs = Tables.documents(spark, dir)
      .select(expr("split(lower(text), '\\\\s+')").as("ws"))
      .select(
        expr("CASE WHEN size(ws) >= 30 THEN 1" +
          " WHEN size(ws) < 10 THEN 0 END").as("lf1"),
        expr(s"CASE WHEN size(filter(array($stops)," +
          " s -> array_contains(ws, s))) >= 2 THEN 1" +
          s" WHEN size(filter(array($stops)," +
          " s -> array_contains(ws, s))) = 0 THEN 0 END").as("lf2"),
        expr("CASE WHEN size(filter(ws, t -> t rlike '^[a-z]+$')) * 10" +
          " >= size(ws) * 8 THEN 1" +
          " WHEN size(filter(ws, t -> t rlike '^[a-z]+$')) * 2" +
          " < size(ws) THEN 0 END").as("lf3"))
    def pair(a: String, b: String) = Seq(
      sum(when(col(a).isNotNull && col(b).isNotNull, 1L).otherwise(0L))
        .as(s"ov_${a}_$b"),
      sum(when(col(a).isNotNull && col(a) === col(b), 1L).otherwise(0L))
        .as(s"ag_${a}_$b"))
    val agged = lfs.agg(count(lit(1)).as("n_docs"),
      (pair("lf1", "lf2") ++ pair("lf1", "lf3") ++
        pair("lf2", "lf3")): _*)
    agged.select(expr("stack(3," +
        " 'lf1_lf2', ov_lf1_lf2, ag_lf1_lf2," +
        " 'lf1_lf3', ov_lf1_lf3, ag_lf1_lf3," +
        " 'lf2_lf3', ov_lf2_lf3, ag_lf2_lf3)" +
        " AS (pair, n_overlap, n_agree)"), col("n_docs"))
      .select(col("pair"), col("n_docs"), col("n_overlap"),
        col("n_agree"),
        (col("n_overlap") - col("n_agree")).as("n_conflict"),
        expr("CASE WHEN n_overlap = 0 THEN 0" +
          " ELSE n_agree * 1000000 div n_overlap END").as("agree_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lf_audit" -> lfAudit,
    "q_vocab_overlap" -> vocabOverlap,
    "q_feature_hash" -> featureHashAudit,
    "q_readability" -> readability,
    "q_vocab_growth" -> vocabGrowth,
    "q_doc_rarity" -> docRarity,
    "q_ccnet_buckets" -> ccnetBuckets,
    "q_bm25_rank" -> ((s, d) => bm25TopDocs(s, d)),
    "q_tfidf_top_terms" -> ((s, d) => tfIdfTopTerms(s, d)),
    "q_edit_distance" -> editDistanceBuckets,
    "q_token_counts" -> tokenCounts,
    "q_token_fertility" -> tokenFertility,
    "q_char_diversity" -> charDiversity,
    "q_coverage_curve" -> coverageCurve,
    "q_prefix_search" -> ((s, d) => prefixSearch(s, d)),
    "q_repetition_ratio" -> repetitionRatio,
    "q_doc_chunks" -> docChunks,
    "q_vocab_coverage" -> ((s, d) => vocabCoverage(s, d)),
    "q_quality_score" -> qualityScore,
    "q_quality_gate" -> qualityGate,
    "q_mcnemar_gates" -> mcnemarGates,
    "q_filter_bias" -> filterBias,
    "q_phrase_search" -> ((s, d) => phraseSearch(s, d)),
    "q_bpe_pairs" -> ((s, d) => bpePairCounts(s, d)),
    "q_bpe_merges" -> ((s, d) => bpeMerges(s, d)),
    "q_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "q_pmi_collocations" -> ((s, d) => pmiCollocations(s, d)),
    "q_lang_id" -> langId,
    "q_rake_keywords" -> ((s, d) => rakeKeywords(s, d)),
    "q_lang_confusion" -> langConfusion,
    "q_lang_kappa" -> langKappa,
    "q_source_divergence" -> sourceDivergence,
    "q_vocab_richness" -> vocabRichness,
    "q_freq_of_freqs" -> ((s, d) => freqOfFreqs(s, d)),
    "q_doc_fingerprint" -> docFingerprint)

  /** BM25 oracle generated from [[Bm25Terms]] (same HUGEINT outer
    * products, one division per term, same left-assoc addition order —
    * see bm25TopDocs for the algebra). */
  private lazy val bm25Sql: String = {
    val tfs = Bm25Terms.map(t =>
      s"CAST(len(list_filter(wl, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n|         ")
    val dfs = Bm25Terms.map(t =>
      s"CAST(count(*) FILTER (WHERE tf_$t > 0) AS BIGINT) AS df_$t")
      .mkString(",\n|         ")
    val terms = Bm25Terms.map(t =>
      s"""CAST(CAST((2*n - 2*df_$t + 1) AS HUGEINT) * 22 * tf_$t * nsum AS DOUBLE)
         |      / CAST(CAST((2*df_$t + 1) AS HUGEINT)
         |             * (10*tf_$t*nsum + 3*nsum + 9*len*n) AS DOUBLE)"""
        .stripMargin).mkString("\n|    + ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS wl
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(len(wl) AS BIGINT) AS len,
       |         $tfs
       |  FROM t),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(len) AS BIGINT) AS nsum,
       |         $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id, len, round(
       |    $terms
       |  , 6) AS score
       |  FROM perdoc CROSS JOIN stats)
       |SELECT doc_id, len, score, CAST(rk AS INT) AS rk
       |FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
       |      FROM scored WHERE score > 0)
       |WHERE rk <= 10""".stripMargin
  }

  /** Phrase-search oracle generated from the SAME phrase Seq the
    * operator defaults to — interpolating both the per-slot equality
    * chain and the valid-start range bound, so changing [[DefaultPhrase]]
    * (or its length) can never desynchronize operator and oracle. */
  private[graft] def phraseSearchSql(phrase: Seq[String]): String = {
    val conds = phrase.zipWithIndex.map {
      case (w, 0) => s"w[i] = '$w'"
      case (w, i) => s"w[i+$i] = '$w'"
    }.mkString(" AND ")
    // Valid 1-based starts: 1 .. len(w) − L + 1, i.e. range(1, upper)
    // with exclusive upper = len(w) + 2 − L.
    val upper = (2 - phrase.length) match {
      case 0 => "len(w)"
      case d if d > 0 => s"len(w) + $d"
      case d => s"len(w) - ${-d}"
    }
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id,
       |         list_filter(range(1, $upper),
       |           i -> $conds)
       |           AS pos1
       |  FROM t)
       |SELECT doc_id, CAST(len(pos1) AS BIGINT) AS n_matches,
       |       CAST(pos1[1] - 1 AS INT) AS first_pos
       |FROM hits WHERE len(pos1) > 0""".stripMargin
  }

  // Shared by q_lang_id and q_lang_confusion so the confusion matrix
  // can never drift from the classifier it audits.
  private val langIdSql =
    """WITH t AS (
      |  SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    length(list_filter(toks, t -> t IN ('the','a','is','of'))) AS score_en,
      |    length(list_filter(toks, t -> t IN ('el','la','de','que'))) AS score_es,
      |    length(list_filter(toks, t -> t IN ('le','la','et','les'))) AS score_fr,
      |    length(list_filter(toks, t -> t IN ('der','die','und','das'))) AS score_de
      |  FROM t)
      |SELECT doc_id, lang,
      |  CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'und'
      |       WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
      |       WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
      |       WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
      |       ELSE 'de' END AS predicted_lang
      |FROM s""".stripMargin

  /** Shared Gopher quality-gate fragments (round-10 advice): the metric
    * CTEs (`t`,`m`) and the per-rule predicates are defined ONCE here
    * and referenced by BOTH the q_quality_gate oracle and the
    * q_filter_bias audit oracle — like langIdSql/raritySql — so a
    * future edit to the gate rules cannot silently drift from the
    * audit that claims to replay them. */
  private val gateMetricsSql =
    """t AS (
      |  SELECT doc_id, lang, text,
      |         regexp_split_to_array(lower(text), '\s+') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, lang,
      |         CAST(len(toks) AS INT) AS n_words,
      |         CAST(list_sum(list_transform(toks,
      |              t2 -> CAST(length(t2) AS BIGINT))) AS BIGINT)
      |           AS word_chars,
      |         CAST(len(list_filter(toks,
      |              t2 -> regexp_matches(t2, '[a-z]'))) AS INT) AS n_alpha,
      |         CAST(len(list_intersect(list_distinct(toks),
      |              ['the','be','to','of','and','that','have','with']))
      |           AS INT) AS n_req_stop,
      |         CAST(length(regexp_extract_all(text, '#'))
      |            + length(regexp_extract_all(text, '\.\.\.')) AS INT)
      |           AS n_symbols
      |  FROM t)""".stripMargin

  private val rWordCountSql = "(n_words BETWEEN 50 AND 100000)"
  private val rMeanWordLenSql =
    "(3 * n_words <= word_chars AND word_chars <= 10 * n_words)"
  private val rSymbolRatioSql = "(10 * n_symbols <= n_words)"
  private val rAlphaWordsSql = "(10 * n_alpha >= 8 * n_words)"
  private val rStopwordsSql = "(n_req_stop >= 2)"
  private val gateKeepSql =
    s"($rWordCountSql AND $rMeanWordLenSql AND $rSymbolRatioSql" +
      s" AND $rAlphaWordsSql AND $rStopwordsSql)"

  /** Shared rarity CTE: replays [[docRarity]]'s per-token floor-div and
    * the DECIMAL(38)/HUGEINT sum (DuckDB sum is HUGEINT, `//` stays
    * exact, final cast to BIGINT matches Spark's `div`). */
  private val raritySql =
    """words AS (
      |  SELECT doc_id, lang,
      |         unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      |  FROM documents),
      |v AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1),
      |tot AS (SELECT sum(cnt) AS nn FROM v),
      |sc AS (SELECT doc_id, lang, count(*) AS n_tokens,
      |              sum(1000000 * tot.nn // v.cnt) AS s
      |       FROM words JOIN v USING (w) CROSS JOIN tot
      |       GROUP BY 1, 2),
      |rar AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
      |               CAST(s // n_tokens AS BIGINT) AS rarity_micro
      |        FROM sc)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_lf_audit" ->
      """WITH d AS (
        |  SELECT regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |lf AS (
        |  SELECT
        |    CASE WHEN len(ws) >= 30 THEN 1
        |      WHEN len(ws) < 10 THEN 0 END AS lf1,
        |    CASE WHEN len(list_filter(['the', 'a', 'of', 'and', 'to',
        |        'in', 'is'], s -> list_contains(ws, s))) >= 2 THEN 1
        |      WHEN len(list_filter(['the', 'a', 'of', 'and', 'to',
        |        'in', 'is'], s -> list_contains(ws, s))) = 0 THEN 0 END
        |      AS lf2,
        |    CASE WHEN len(list_filter(ws,
        |        t -> regexp_matches(t, '^[a-z]+$'))) * 10
        |        >= len(ws) * 8 THEN 1
        |      WHEN len(list_filter(ws,
        |        t -> regexp_matches(t, '^[a-z]+$'))) * 2
        |        < len(ws) THEN 0 END AS lf3
        |  FROM d),
        |agged AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN lf1 IS NOT NULL AND lf2 IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ov_12,
        |    CAST(sum(CASE WHEN lf1 IS NOT NULL AND lf1 = lf2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ag_12,
        |    CAST(sum(CASE WHEN lf1 IS NOT NULL AND lf3 IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ov_13,
        |    CAST(sum(CASE WHEN lf1 IS NOT NULL AND lf1 = lf3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ag_13,
        |    CAST(sum(CASE WHEN lf2 IS NOT NULL AND lf3 IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ov_23,
        |    CAST(sum(CASE WHEN lf2 IS NOT NULL AND lf2 = lf3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS ag_23
        |  FROM lf),
        |melt AS (
        |  SELECT 'lf1_lf2' AS pair, n_docs, ov_12 AS n_overlap,
        |         ag_12 AS n_agree FROM agged
        |  UNION ALL SELECT 'lf1_lf3', n_docs, ov_13, ag_13 FROM agged
        |  UNION ALL SELECT 'lf2_lf3', n_docs, ov_23, ag_23 FROM agged)
        |SELECT pair, n_docs, n_overlap, n_agree,
        |       n_overlap - n_agree AS n_conflict,
        |       CAST(CASE WHEN n_overlap = 0 THEN 0
        |         ELSE n_agree * 1000000 // n_overlap END AS BIGINT)
        |         AS agree_ppm
        |FROM melt""".stripMargin,
    "q_readability" ->
      """SELECT doc_id, lang,
        |       greatest(1, CAST(len(regexp_split_to_array(lower(text),
        |         '\s+')) AS BIGINT)) AS words,
        |       greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |         AS BIGINT)) AS sentences,
        |       greatest(1, CAST(len(regexp_extract_all(lower(text),
        |         '[aeiou]+')) AS BIGINT)) AS syllables,
        |       206835 - 1015 * greatest(1, CAST(len(
        |           regexp_split_to_array(lower(text), '\s+')) AS BIGINT))
        |         // greatest(1, CAST(len(regexp_extract_all(text,
        |           '[.!?]+')) AS BIGINT))
        |         - 84600 * greatest(1, CAST(len(regexp_extract_all(
        |           lower(text), '[aeiou]+')) AS BIGINT))
        |         // greatest(1, CAST(len(regexp_split_to_array(
        |           lower(text), '\s+')) AS BIGINT)) AS fre_milli,
        |       390 * greatest(1, CAST(len(regexp_split_to_array(
        |           lower(text), '\s+')) AS BIGINT))
        |         // greatest(1, CAST(len(regexp_extract_all(text,
        |           '[.!?]+')) AS BIGINT))
        |         + 11800 * greatest(1, CAST(len(regexp_extract_all(
        |           lower(text), '[aeiou]+')) AS BIGINT))
        |         // greatest(1, CAST(len(regexp_split_to_array(
        |           lower(text), '\s+')) AS BIGINT)) - 15590
        |         AS fk_grade_milli
        |FROM documents""".stripMargin,
    "q_feature_hash" ->
      s"""WITH tc AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(regexp_split_to_array(lower(text),
         |          '\\s+')) AS tok FROM documents) t
         |  GROUP BY 1),
         |binned AS (
         |  SELECT CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
         |           % ${FeatureHashBins} AS bin, cnt
         |  FROM tc),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM binned)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_vocab,
         |       CAST(sum(cnt) AS BIGINT) AS n_occ,
         |       CAST(sum(cnt) * 1000000 // tot AS BIGINT) AS occ_share_ppm,
         |       CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT)
         |         AS dominance_ppm
         |FROM binned CROSS JOIN tot
         |GROUP BY bin, tot""".stripMargin,
    "q_vocab_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(regexp_split_to_array(
        |      lower(text), '\s+')) AS tok
        |    FROM documents) q),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
        |          FROM st GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(count(*) AS BIGINT) AS inter
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, x.nv AS nv1, y.nv AS nv2, inter,
        |       CAST(inter * 1000000 // (x.nv + y.nv - inter) AS BIGINT)
        |         AS jaccard_ppm
        |FROM pairs JOIN sizes x ON x.source = s1
        |JOIN sizes y ON y.source = s2""".stripMargin,
    "q_vocab_growth" ->
      """WITH fo AS (
        |  SELECT tok, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM documents),
        |th AS (
        |  SELECT CAST(u.p AS INT) AS pct,
        |         CAST((tot.n * u.p) // 100 AS BIGINT) AS n_docs
        |  FROM tot, (SELECT unnest([20, 40, 60, 80, 100]) AS p) u)
        |SELECT th.pct, th.n_docs, count(*) AS vocab_size
        |FROM th JOIN fo ON fo.first_doc < th.n_docs
        |GROUP BY 1, 2""".stripMargin,
    "q_doc_rarity" ->
      s"""WITH $raritySql
         |SELECT doc_id, lang, n_tokens, rarity_micro FROM rar""".stripMargin,
    "q_ccnet_buckets" ->
      s"""WITH $raritySql,
         |b AS (SELECT lang, rarity_micro,
         |             ntile(3) OVER (PARTITION BY lang
         |               ORDER BY rarity_micro, doc_id) AS bn
         |      FROM rar)
         |SELECT lang,
         |       CASE bn WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |       count(*) AS n_docs,
         |       min(rarity_micro) AS lo_micro,
         |       max(rarity_micro) AS hi_micro
         |FROM b GROUP BY 1, 2""".stripMargin,
    "q_bm25_rank" -> bm25Sql,
    "q_doc_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, length(text) AS char_len,
        |         CASE WHEN length(text) = 0 THEN []
        |         ELSE list_transform(range(0, (length(text) - 1) // 150 + 1),
        |              i -> substr(text, CAST(i * 150 + 1 AS BIGINT), 200)) END
        |           AS chunks
        |  FROM documents)
        |SELECT doc_id, CAST(char_len AS INT) AS char_len,
        |       CAST(len(chunks) AS INT) AS n_chunks,
        |       CAST(coalesce(list_sum(list_transform(chunks,
        |            c2 -> CAST(length(c2) AS BIGINT))), 0) AS BIGINT)
        |         AS sum_chunk_chars,
        |       md5(array_to_string(chunks, '')) AS chunks_digest
        |FROM c""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM tok GROUP BY 1
        |    ORDER BY cnt DESC, tok LIMIT 1000) v),
        |tot AS (SELECT count(*) AS total_tokens FROM tok),
        |cov AS (SELECT count(*) AS covered_tokens FROM tok
        |        WHERE tok IN (SELECT tok FROM vocab))
        |SELECT total_tokens, covered_tokens,
        |       CAST(covered_tokens AS DOUBLE) / total_tokens AS coverage
        |FROM tot CROSS JOIN cov""".stripMargin,
    "q_prefix_search" -> {
      val ps = DefaultPrefixes
        .map(p => s"SELECT '$p' AS prefix").mkString(" UNION ALL ")
      s"""WITH tok AS (
         |  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         |  FROM documents),
         |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |p AS ($ps),
         |r AS (
         |  SELECT p.prefix, c.tok, c.cnt,
         |         CAST(row_number() OVER (PARTITION BY p.prefix
         |           ORDER BY c.cnt DESC, c.tok) AS INT) AS rn
         |  FROM p JOIN c ON c.tok LIKE p.prefix || '%')
         |SELECT prefix, tok, cnt, rn FROM r WHERE rn <= 5""".stripMargin
    },
    "q_coverage_curve" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |r AS (
        |  SELECT tok, cnt,
        |         CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
        |           AS rank,
        |         CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS covered_tokens
        |  FROM v),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM v)
        |SELECT rank, cnt, covered_tokens, total_tokens,
        |       CAST((1000000 * CAST(covered_tokens AS HUGEINT)) // total_tokens AS BIGINT)
        |         AS coverage_ppm
        |FROM r, t WHERE (rank & (rank - 1)) = 0""".stripMargin,
    "q_char_diversity" -> {
      val terms = ("abcdefghijklmnopqrstuvwxyz".map(_.toString) :+ " ")
        .map(ch => "CAST(length(text) - length(replace(text, '" + ch +
          "', '')) AS BIGINT) * CAST(length(text) - length(replace(text, '" +
          ch + "', '')) AS BIGINT)")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_total,
         |         CAST($terms AS HUGEINT) AS sum_sq
         |  FROM documents)
         |SELECT doc_id, n_chars_total,
         |       CAST(1000000 - (sum_sq * 1000000) //
         |         (CAST(n_chars_total AS HUGEINT) * nullif(n_chars_total, 0))
         |         AS BIGINT) AS impurity_ppm,
         |       coalesce(1000000 - (sum_sq * 1000000) //
         |         (CAST(n_chars_total AS HUGEINT) * nullif(n_chars_total, 0))
         |         < 600000, TRUE) AS is_low_diversity
         |FROM t""".stripMargin
    },
    "q_repetition_ratio" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         CAST(greatest(len(w) - 2, 0) AS INT) AS n_trigrams,
        |         CAST(CASE WHEN len(w) >= 3 THEN
        |           len(list_distinct(list_transform(range(1, len(w) - 1),
        |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
        |           ELSE 0 END AS INT) AS n_distinct
        |  FROM t)
        |SELECT doc_id, n_trigrams, n_distinct,
        |       CASE WHEN n_trigrams > 0
        |            THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams END
        |         AS rep_ratio,
        |       coalesce(CASE WHEN n_trigrams > 0
        |            THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams END > 0.2,
        |         false) AS is_repetitive
        |FROM c""".stripMargin,
    "q_tfidf_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |         CAST((CAST(tf.tf AS HUGEINT) * n.n_docs * 1000000) // df.df AS BIGINT) AS score_e6
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tf, df, score_e6, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_e6 DESC, token) AS rk FROM scored)
        |WHERE rk <= 5""".stripMargin,
    "q_edit_distance" ->
      """SELECT CAST(levenshtein(lower(p_name), 'steel plate') AS INT) AS edit_dist,
        |       count(*) AS n_parts,
        |       min(p_partkey) AS min_partkey
        |FROM part GROUP BY 1""".stripMargin,
    "q_token_counts" ->
      """SELECT doc_id, n_chars,
        |       CAST(length(regexp_split_to_array(lower(text), '\s+')) AS INT) AS ws_tokens,
        |       CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_ish_tokens,
        |       CAST(length(text) AS INT) AS char_len
        |FROM documents""".stripMargin,
    "q_token_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |         CAST(length(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS w,
        |         CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS t,
        |         CAST(length(text) AS BIGINT) AS c
        |  FROM documents),
        |a AS (
        |  SELECT lang, count(*) AS n_docs,
        |         CAST(sum(w) AS BIGINT) AS ws_tokens,
        |         CAST(sum(t) AS BIGINT) AS bpe_ish_tokens,
        |         CAST(sum(c) AS BIGINT) AS chars
        |  FROM t GROUP BY 1)
        |SELECT lang, n_docs, ws_tokens, bpe_ish_tokens, chars,
        |       CAST(CAST(bpe_ish_tokens AS HUGEINT) * 1000000 // ws_tokens AS BIGINT) AS fertility_ppm,
        |       CAST(CAST(chars AS HUGEINT) * 1000000 // bpe_ish_tokens AS BIGINT) AS chars_per_tok_micro
        |FROM a""".stripMargin,
    // Composed from gateMetricsSql + the shared rule predicates — the
    // audit replays the gate BY CONSTRUCTION, not by hand-duplication.
    "q_filter_bias" ->
      s"""WITH $gateMetricsSql,
         |f AS (
         |  SELECT lang,
         |         $rWordCountSql AS r_word_count,
         |         $rStopwordsSql AS r_stopwords,
         |         $gateKeepSql AS keep
         |  FROM m)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_pass,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
         |         // count(*) AS BIGINT) AS pass_ppm,
         |       CAST(sum(CASE WHEN NOT r_stopwords THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fail_stopwords,
         |       CAST(sum(CASE WHEN NOT r_word_count THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fail_word_count
         |FROM f GROUP BY 1""".stripMargin,
    "q_quality_gate" ->
      s"""WITH $gateMetricsSql
         |SELECT doc_id, n_words, word_chars, n_alpha, n_req_stop, n_symbols,
         |       $rWordCountSql AS r_word_count,
         |       $rMeanWordLenSql AS r_mean_word_len,
         |       $rSymbolRatioSql AS r_symbol_ratio,
         |       $rAlphaWordsSql AS r_alpha_words,
         |       $rStopwordsSql AS r_stopwords,
         |       $gateKeepSql AS keep
         |FROM m""".stripMargin,
    // 0-based positions: DuckDB's 1-based list index i maps to pos i−1.
    "q_mcnemar_gates" ->
      s"""WITH $gateMetricsSql,
         |bmet AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(toks, t2 -> list_contains(
         |           ['the','a','of','and','to','in','is'], t2))) AS INT)
         |           AS n_stop
         |  FROM t),
         |flags AS (
         |  SELECT m.doc_id, $gateKeepSql AS ga,
         |         (m.n_words BETWEEN 20 AND 1000
         |          AND 2 * bmet.n_stop < m.n_words) AS gb
         |  FROM m JOIN bmet USING (doc_id)),
         |cells AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(CASE WHEN ga AND gb THEN 1 END) AS BIGINT)
         |           AS n_both,
         |         CAST(count(CASE WHEN ga AND NOT gb THEN 1 END) AS BIGINT)
         |           AS n_only_a,
         |         CAST(count(CASE WHEN NOT ga AND gb THEN 1 END) AS BIGINT)
         |           AS n_only_b,
         |         CAST(count(CASE WHEN NOT ga AND NOT gb THEN 1 END)
         |           AS BIGINT) AS n_neither
         |  FROM flags)
         |SELECT n_docs, n_both, n_only_a, n_only_b, n_neither,
         |       CAST(CASE WHEN n_only_a + n_only_b = 0 THEN 0 ELSE
         |         (CAST(n_only_a AS HUGEINT) - n_only_b)
         |         * (CAST(n_only_a AS HUGEINT) - n_only_b) * 1000
         |         // (CAST(n_only_a AS HUGEINT) + n_only_b)
         |         END AS BIGINT) AS chi2_milli
         |FROM cells""".stripMargin,
    "q_rake_keywords" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w) + 1),
        |           i -> CAST(i - 1 AS BIGINT))) AS pos,
        |         unnest(list_transform(range(1, len(w) + 1),
        |           i -> w[i])) AS tok
        |  FROM t),
        |words AS (
        |  SELECT doc_id, pos, tok,
        |         pos - row_number() OVER (PARTITION BY doc_id
        |           ORDER BY pos) AS grp
        |  FROM toks
        |  WHERE tok NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
        |    AND regexp_matches(tok, '^[a-z]+$')),
        |wp AS (SELECT *, CAST(count(*) OVER (PARTITION BY doc_id, grp)
        |         AS BIGINT) AS plen FROM words),
        |wsc AS (
        |  SELECT tok, CAST(CAST(sum(plen) AS BIGINT) * 1000
        |    // CAST(count(*) AS BIGINT) AS BIGINT) AS score_milli
        |  FROM wp GROUP BY 1),
        |ph AS (
        |  SELECT w.doc_id, w.grp,
        |         string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
        |         CAST(sum(wsc.score_milli) AS BIGINT) AS score_milli,
        |         CAST(count(*) AS BIGINT) AS n_words
        |  FROM wp w JOIN wsc ON w.tok = wsc.tok
        |  GROUP BY 1, 2),
        |agg AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
        |               CAST(max(score_milli) AS BIGINT) AS score_milli,
        |               CAST(max(n_words) AS BIGINT) AS n_words
        |        FROM ph GROUP BY 1)
        |SELECT phrase, n_occurrences, score_milli, n_words,
        |       CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY score_milli DESC,
        |        phrase) AS rk FROM agg)
        |WHERE rk <= 20""".stripMargin,
    "q_phrase_search" -> phraseSearchSql(DefaultPhrase),
    "q_bpe_merges" -> bpeMergesSql(BpeRounds),
    "q_bpe_encode" -> bpeEncodeSql(BpeRounds),
    "q_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(lower(text), '\s+') AS ws FROM documents),
        |uni AS (SELECT unnest(ws) AS x FROM toks),
        |ucnt AS (SELECT x, CAST(count(*) AS BIGINT) AS cx FROM uni GROUP BY 1),
        |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
        |big AS (
        |  SELECT unnest(list_transform(range(2, len(ws) + 1),
        |                i -> ws[i-1] || ' ' || ws[i])) AS xy
        |  FROM toks),
        |bcnt AS (SELECT xy, CAST(count(*) AS BIGINT) AS cxy FROM big GROUP BY 1),
        |mtot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM big),
        |sc AS (
        |  SELECT b.xy, b.cxy, u1.cx AS cx, u2.cx AS cy,
        |         CAST(CAST(b.cxy AS HUGEINT) * n.n * n.n * 1000000
        |              // (CAST(m.m AS HUGEINT) * u1.cx * u2.cx) AS BIGINT)
        |           AS pmi_micro
        |  FROM bcnt b
        |  JOIN ucnt u1 ON u1.x = str_split(b.xy, ' ')[1]
        |  JOIN ucnt u2 ON u2.x = str_split(b.xy, ' ')[2]
        |  CROSS JOIN ntot n CROSS JOIN mtot m
        |  WHERE b.cxy >= 5
        |    AND length(str_split(b.xy, ' ')[1]) >= 1
        |    AND length(str_split(b.xy, ' ')[2]) >= 1)
        |SELECT xy, cxy, cx, cy, pmi_micro, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY pmi_micro DESC, xy) AS rk
        |      FROM sc)
        |WHERE rk <= 20""".stripMargin,
    "q_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |         i -> substr(tok, CAST(i AS BIGINT), 2))) AS pair
        |  FROM tok WHERE length(tok) >= 2),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1)
        |SELECT pair, cnt, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair) AS rk
        |      FROM c)
        |WHERE rk <= 20""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(length(text) AS INT) AS char_len,
        |         regexp_split_to_array(lower(text), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id, lang, char_len,
        |       CAST(length(toks) AS INT) AS n_tokens,
        |       CAST(length(list_filter(toks,
        |            t -> t IN ('the','a','of','and','to','in','is'))) AS INT) AS n_stopwords,
        |       CAST(length(list_filter(toks,
        |            t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |         / length(toks) AS stopword_ratio,
        |       CAST(char_len - length(toks) + 1 AS DOUBLE) / length(toks) AS mean_token_len,
        |       (length(toks) BETWEEN 20 AND 1000 AND
        |        CAST(length(list_filter(toks,
        |            t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |          / length(toks) < 0.5) AS is_quality
        |FROM t""".stripMargin,
    "q_lang_id" -> langIdSql,
    "q_freq_of_freqs" ->
      """WITH v AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |fof AS (SELECT cnt AS r, CAST(count(*) AS BIGINT) AS n_r
        |        FROM v GROUP BY 1),
        |lo AS (SELECT * FROM fof ORDER BY r LIMIT 8)
        |SELECT f.r, f.n_r,
        |       CASE WHEN nx.n_r IS NULL THEN 0
        |            ELSE CAST(CAST(f.r + 1 AS HUGEINT) * nx.n_r * 1000000
        |                      // f.n_r AS BIGINT) END AS gt_star_micro
        |FROM lo f LEFT JOIN fof nx ON nx.r = f.r + 1""".stripMargin,
    "q_vocab_richness" ->
      """WITH v AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |             CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |             CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |               AS f1,
        |             CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |               AS f2
        |      FROM v)
        |SELECT vocab_size, n_tokens, f1, f2,
        |       vocab_size * 1000000 + CAST(CASE WHEN f2 > 0
        |         THEN CAST(f1 AS HUGEINT) * f1 * 1000000 // (2 * f2)
        |         ELSE CAST(f1 AS HUGEINT) * (f1 - 1) * 1000000 // 2 END
        |         AS BIGINT) AS chao1_micro,
        |       CAST(CAST(n_tokens - f1 AS HUGEINT) * 1000000 // n_tokens
        |         AS BIGINT) AS coverage_ppm
        |FROM s""".stripMargin,
    "q_lang_kappa" ->
      s"""WITH li AS ($langIdSql),
         |c AS (SELECT lang, predicted_lang, count(*) AS n FROM li GROUP BY 1, 2),
         |r AS (SELECT lang AS k, sum(n) AS rn FROM c GROUP BY 1),
         |cl AS (SELECT predicted_lang AS k, sum(n) AS cn FROM c GROUP BY 1),
         |pe AS (SELECT sum(CAST(rn AS HUGEINT) * cn) AS src
         |       FROM r JOIN cl USING (k)),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |             CAST(sum(CASE WHEN lang = predicted_lang THEN n
         |                      ELSE 0 END) AS BIGINT) AS n_agree
         |      FROM c)
         |SELECT n_docs, n_agree,
         |       CAST(n_agree * 1000000 // n_docs AS BIGINT) AS po_micro,
         |       CAST(src * 1000000 // (CAST(n_docs AS HUGEINT) * n_docs)
         |         AS BIGINT) AS pe_micro,
         |       CAST((CAST(n_agree AS HUGEINT) * n_docs - src) * 1000000
         |         // (CAST(n_docs AS HUGEINT) * n_docs - src)
         |         AS BIGINT) AS kappa_micro
         |FROM t CROSS JOIN pe""".stripMargin,
    "q_source_divergence" ->
      """WITH sw AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS cs
        |  FROM (SELECT source,
        |          unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |wt AS (SELECT w, CAST(sum(cs) AS BIGINT) AS cw FROM sw GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS n_tokens,
        |              CAST(count(*) AS BIGINT) AS vocab_size
        |       FROM sw GROUP BY 1),
        |nn AS (SELECT CAST(sum(cw) AS BIGINT) AS nn FROM wt)
        |SELECT sw.source, ns.n_tokens, ns.vocab_size,
        |       CAST((sum(abs(CAST(sw.cs AS HUGEINT) * nn.nn
        |                     - CAST(wt.cw AS HUGEINT) * ns.n_tokens))
        |             + CAST(nn.nn - sum(wt.cw) AS HUGEINT) * ns.n_tokens)
        |         * 1000000 // (CAST(2 AS HUGEINT) * ns.n_tokens * nn.nn)
        |         AS BIGINT) AS tv_ppm
        |FROM sw JOIN wt USING (w) JOIN ns USING (source) CROSS JOIN nn
        |GROUP BY 1, 2, 3, nn.nn""".stripMargin,
    "q_lang_confusion" ->
      s"""WITH li AS ($langIdSql),
         |c AS (SELECT lang, predicted_lang, count(*) AS n_docs
         |      FROM li GROUP BY 1, 2)
         |SELECT lang, predicted_lang, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_docs * 1000000 //
         |         (sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT)
         |         AS share_micro
         |FROM c""".stripMargin,
    "q_doc_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents)
        |SELECT doc_id, substr(md5(norm), 1, 16) AS fingerprint,
        |       CAST(length(norm) AS INT) AS norm_len
        |FROM n""".stripMargin)
}
