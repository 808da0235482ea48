package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ShinglesAll

/** Retrieval-fusion and corpus-scoring operators — the layer between
  * the index structures (BM25 / IVF, TextAnalysis + Similarity) and a
  * training-data curation decision: hybrid lexical+vector ranking,
  * LM-style fluency scoring, and DSIR-shaped importance weighting.
  *
  * House discipline as everywhere: exact integer arithmetic wherever a
  * ranking depends on it (micro-/ppb-units with `div`), 6-dp-rounded
  * cosine with id tiebreaks, DECIMAL(38)/HUGEINT for products that pass
  * int64 at 100 TB-scale counts.
  */
object Ranking {

  /** Cosine via the codegen'd kernel (same fold order as the oracle's
    * list_sum — see [[graft.functions.CosineSim]]). */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  /** DuckDB replay of [[cosine]] for explicit operands (same sequential
    * fold; duplicated from Similarity where it is private). */
  private def cosSql(u: String, v: String): String =
    s"""list_sum(list_transform(range(1, 65),
       |  k -> CAST($u[k] AS DOUBLE) * CAST($v[k] AS DOUBLE)))
       |/ sqrt(list_sum(list_transform(range(1, 65), k -> CAST($u[k] AS DOUBLE) * CAST($u[k] AS DOUBLE))))
       |/ sqrt(list_sum(list_transform(range(1, 65), k -> CAST($v[k] AS DOUBLE) * CAST($v[k] AS DOUBLE))))"""
      .stripMargin

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    * SIGIR'09): fuse a LEXICAL ranking (integer tf-idf over the BM25
    * query terms) with a VECTOR ranking (cosine vs one query embedding)
    * by RRF score Σ 1/(60+rank) — the standard production hybrid-search
    * combiner (lexical recall + semantic recall, no score calibration
    * needed because only RANKS enter the fusion).
    *
    * Exact-integer discipline: the fused score is parts-per-billion
    * `1000000000 div (60 + rank)` summed over the two arms (missing arm
    * contributes 0), so fusion order and float rounding can never
    * reorder ties — ranking is bit-identical across engines.
    *
    * Scale shape: each arm is a top-`kCand` ranked list — at corpus
    * scale the lexical arm is served by the persisted inverted index
    * (TextAnalysis.tokenIndex / BM25) and the vector arm by the IVF
    * index (Similarity.retrievalServed); fusion itself joins two k-row
    * lists, driver-free and constant-cost regardless of corpus size.
    * The rank windows run over an aggregate-bounded input (lexical: the
    * per-doc score aggregate; vector: one query's candidates), and both
    * arms carry an explicit `limit(kCand)` so the unpartitioned fusion
    * window is provably bounded (PlanRegressionSpec's window guard).
    */
  def hybridRrf(spark: SparkSession, dir: String,
                kCand: Int = 20, k: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = TextAnalysis.Bm25Terms

    // Lexical arm: integer tf-idf = Σ_t tf_t · (n_docs div df_t).
    val words = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w").isin(terms: _*))
    // Checkpointed (r19): ≤|docs|×|terms| rows (3 query terms), two
    // consumers (df + the score join) — each re-ran the corpus
    // tokenize without it. dfw (≤3 rows) broadcast-pinned.
    val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfw = tf.groupBy("w").agg(count(lit(1)).as("dfw"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wLex = Window.orderBy(col("lex_score").desc, col("doc_id"))
    val lexTop = tf.join(broadcast(dfw), "w").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), expr("tf * (n_docs div dfw)").as("contrib"))
      .groupBy("doc_id").agg(sum("contrib").as("lex_score"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= kCand).limit(kCand)
      .select(col("doc_id"), col("lex_rank"))

    // Vector arm: cosine vs the vec_id=0 query embedding (the docstore
    // join convention vec_id = doc_id, as in Similarity.retrieval).
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wVec = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val vecTop = qv.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("embedding")), 6).as("cos_sim"))
      .withColumn("vec_rank", row_number().over(wVec))
      .filter(col("vec_rank") <= kCand).limit(kCand)
      .select(col("vec_id").as("doc_id"), col("vec_rank"))

    val wF = Window.orderBy(col("rrf_ppb").desc, col("doc_id"))
    lexTop.join(vecTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        expr("coalesce(1000000000 div (60 + lex_rank), 0)" +
          " + coalesce(1000000000 div (60 + vec_rank), 0)").as("rrf_ppb"))
      .withColumn("fused_rank", row_number().over(wF))
      .filter(col("fused_rank") <= k)
  }

  /** Build-once bigram count indexes for `dir`: `bigram` (xy → cxy) and
    * `first` (x → cx1, count of x in bigram-first position) as parquet
    * — the corpus LM artifact [[bigramSurprisal]] serves from. */
  private[graft] val BigramIndex = graft.Indexes.Artifact("bigram-ix") {
    (spark, dir, out) =>
      val bi = Tables.documents(spark, dir)
        .select(explode(ShinglesAll(col("text"), 2)).as("xy"))
      bi.groupBy("xy").agg(count(lit(1)).as("cxy"))
        .write.mode("overwrite").parquet(s"$out/bigram")
      bi.select(split(col("xy"), " ").getItem(0).as("x"))
        .groupBy("x").agg(count(lit(1)).as("cx1"))
        .write.mode("overwrite").parquet(s"$out/first")
  }

  /** Per-document mean inverse BIGRAM conditional probability in exact
    * micro-units — the bigram analog of [[TextAnalysis.docRarity]]'s
    * unigram score and the engine-exact stand-in for LM perplexity as a
    * FLUENCY filter: text whose word transitions are unpredictable
    * under the corpus bigram model (word-salad, mis-segmented, OCR
    * noise) scores high; fluent boilerplate scores low. Each bigram
    * occurrence xy contributes floor(10⁶·c₁(x)/c(xy)) — exactly
    * 10⁶/p̂(y|x) with c₁(x) the count of x in bigram-FIRST position, so
    * the conditional masses sum exactly to 1 per left-word.
    *
    * Scale: one shingle explode and two token-keyed joins back against
    * the build-once PERSISTED bigram/first-position count indexes
    * ([[BigramIndex]]) — the docRarity shape. The counts must be
    * scans, not inline aggregates, for the Zipf-skewed join keys to be
    * AQE-skew-splittable at all (an inline count is already
    * hash-partitioned on its own join key, so OptimizeSkewedJoin never
    * sees a splittable stage — see TextAnalysis.docRarityFrom, where
    * ScaleToolsSpec pins the split on the operator's own plan).
    * Docs with <2 tokens have no bigrams and drop out (inner join), in
    * both engines.
    */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val ix = BigramIndex.path(spark, dir)
    val bi = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(ShinglesAll(col("text"), 2)).as("xy"))
    val bcnt = spark.read.parquet(s"$ix/bigram")
    val fcnt = spark.read.parquet(s"$ix/first")
    bi.withColumn("x", split(col("xy"), " ").getItem(0))
      .join(bcnt, "xy").join(fcnt, "x")
      .select(col("doc_id"), col("lang"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * cx1 div cxy").as("inv_p"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("inv_p").cast("decimal(38,0)")).as("s"))
      .selectExpr("doc_id", "lang", "n_bigrams",
        "s div n_bigrams AS surprisal_micro")
  }

  /** DSIR-shaped importance weights (Xie et al., NeurIPS'23 "Data
    * Selection for Language Models via Importance Resampling"), log-free
    * engine-exact form: score each document by how target-like its
    * unigram profile is, weight r(w) = 10⁶·p̂_target(w)/p̂_raw(w)
    * computed as ONE integer floor-div per vocab word
    * `(10⁶·ct·Nr) div (cr·Nt)` (target = the lang='en' slice standing
    * in for a curated target corpus; raw = the whole corpus), per-doc
    * score = mean ratio over its token occurrences. Monotone in the
    * true likelihood ratio for docs of equal length, so top-p selection
    * by this score IS importance-ranked selection — with every rank
    * reproducible bit-for-bit, unlike the float log-ratio original.
    *
    * Products run in DECIMAL(38,0)/HUGEINT: ct·Nr ≈ 10²⁴ at 100 TB
    * corpus counts, far past int64. Shape: a build-once PERSISTED
    * ratio table ([[DsirRatio]] — exactly what the paper
    * precomputes and reuses across selection runs) + one token-keyed
    * join back against the scan — the docRarity scale pattern, with
    * the same reason the counts must be a scan and not an inline
    * aggregate (AQE skew-splittability; see TextAnalysis.docRarityFrom).
    */
  private[graft] val DsirRatio = graft.Indexes.Artifact("dsir-ratio") {
    (spark, dir, out) =>
      val words = Tables.documents(spark, dir)
        .select(col("lang"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
      val raw = words.groupBy("w").agg(count(lit(1)).as("cr"))
      val tgt = words.filter(col("lang") === "en")
        .groupBy("w").agg(count(lit(1)).as("ct"))
      val nr = raw.agg(sum("cr").as("nr"))
      val nt = tgt.agg(sum("ct").as("nt"))
      raw.join(tgt, Seq("w"), "left_outer")
        .na.fill(0L, Seq("ct"))
        .crossJoin(nr).crossJoin(nt)
        .select(col("w"),
          expr("CAST(1000000 AS DECIMAL(38,0)) * ct * nr" +
            " div (CAST(cr AS DECIMAL(38,0)) * nt)").as("rw"))
        .write.mode("overwrite").parquet(out)
  }

  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val ratio = spark.read.parquet(DsirRatio.path(spark, dir))
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
    words.join(ratio, "w")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("rw").cast("decimal(38,0)")).as("s"))
      .selectExpr("doc_id", "lang", "n_tokens",
        "s div n_tokens AS dsir_micro")
  }

  /** INTERPOLATED KNESER-NEY bigram probabilities (Kneser & Ney,
    * ICASSP'95; Chen & Goodman'98 formulation) for the top-k most
    * frequent bigrams — the smoothing every count-based n-gram LM
    * ships with, and the third member of the discounting family next
    * to [[bigramSurprisal]] (raw MLE) and the Good-Turing table
    * (q_freq_of_freqs): absolute-discount the bigram count by D and
    * back off to the CONTINUATION unigram (how many distinct left
    * contexts a word follows — "Francisco" is frequent but only ever
    * follows "San", so its continuation mass is tiny).
    *
    * Engine-exact form: with D = 3/4,
    *   p_KN(y|x) = max(c(xy)−D, 0)/c₁(x)
    *             + D·N1+(x·)/c₁(x) · N1+(·y)/N1+(··)
    * cleared to ONE rational (multiply through by 4·c₁(x)·N1+(··)):
    *   p_micro = ((4·c(xy)−3)·N1+(··) + 3·N1+(x·)·N1+(·y)) · 10⁶
    *             div (4·c₁(x)·N1+(··))
    * — a single integer floor-div, so both engines replay it
    * digit-for-digit (c(xy) ≥ 1 in the table, so the max() never
    * binds). Products run in DECIMAL(38)/HUGEINT: c(xy)·N1+(··) is
    * ~10²⁴ at 100 TB corpus counts.
    *
    * Plan/scale shape: everything derives from the build-once PERSISTED
    * bigram index ([[BigramIndex]] — the same artifact
    * bigramSurprisal serves from, built at most once per JVM): the
    * left-context totals c₁(x)/N1+(x·) and continuation counts N1+(·y)
    * are each ONE map-side-combined aggregate over the post-aggregate
    * bigram-type table (vocab-sized, never the token stream), the
    * denominator N1+(··) a broadcast 1-row count. The report is the
    * top-k bigrams (TakeOrderedAndProject on the index), so the three
    * join-backs run with a k-row side — AQE broadcasts it — and the
    * output is k rows at any SF.
    */
  def kneserNey(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val bcnt = spark.read.parquet(s"${BigramIndex.path(spark, dir)}/bigram")
      .withColumn("x", split(col("xy"), " ").getItem(0))
      .withColumn("y", split(col("xy"), " ").getItem(1))
    val left = bcnt.groupBy("x")
      .agg(sum("cxy").as("c1x"), count(lit(1)).as("n1p_x"))
    val cont = bcnt.groupBy("y").agg(count(lit(1)).as("cont_y"))
    val nTypes = bcnt.agg(count(lit(1)).as("n_types"))
    bcnt.orderBy(col("cxy").desc, col("xy")).limit(k)
      .join(left, "x").join(cont, "y")
      .crossJoin(nTypes)
      .select(col("xy"), col("cxy"), col("c1x"), col("n1p_x"),
        col("cont_y"), col("n_types"),
        expr("CAST(((4 * CAST(cxy AS DECIMAL(38,0)) - 3) * n_types" +
          " + 3 * CAST(n1p_x AS DECIMAL(38,0)) * cont_y) * 1000000" +
          " div (4 * CAST(c1x AS DECIMAL(38,0)) * n_types) AS BIGINT)")
          .as("pkn_micro"))
      .orderBy(col("cxy").desc, col("xy"))
  }

  /** LAST-TOUCH attribution: for every purchase, the most recent
    * strictly-earlier non-purchase event by the same user (the
    * marketing-attribution primitive; also the "what did the user see
    * before converting" feature join of a recommender log). One
    * user-partitioned window with a ROWS UNBOUNDED PRECEDING..1
    * PRECEDING frame and an ignore-nulls conditional `last` — never a
    * self-join, so cost is one shuffle by user regardless of history
    * length. First-session purchases with no prior event keep NULL
    * attribution (a real funnel signal, not an error).
    *
    * Determinism: event order is (ts, event_id) — unique — and `ts` is
    * already epoch-nanos (Tables.normalizeTs), so `gap_ns` is exact
    * integer event-time arithmetic in both engines.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("src",
        last(when(col("event_type") =!= "purchase",
          struct(col("event_id"), col("event_type"), col("ts"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts_ns"),
        col("src.event_id").as("src_event_id"),
        col("src.event_type").as("src_event_type"),
        (col("ts") - col("src.ts")).as("gap_ns"))
  }

  /** SHAPLEY-VALUE CHANNEL ATTRIBUTION — the game-theoretic split of
    * conversion credit across the three marketing touchpoints (view /
    * click / signup), the principled answer where [[lastTouchAttribution]]
    * is the heuristic one: each channel gets its average marginal
    * contribution over all 2³ coalitions. The value function is
    * v(S) = (conversions among users whose ENTIRE touch set ⊆ S) / N —
    * monotone, and with the constant denominator N every Shapley value
    * is one exact rational with denominator 6N (3! = 6 carries the
    * coalition weights 2/1/2 as INTEGER w6), so the attribution
    * hash-checks and Σ shapley ≡ v(all) − v(none) by construction.
    *
    * Plan/scale shape: one events scan → per-user conditional
    * aggregate (touch bitmask + converted) → 8-row exact-touchset
    * cell table — EVERYTHING after is algebra on ≤ 8×8 bounded rows
    * (subset sums via a bitmask join, marginals via a coalition
    * join), independent of corpus size; 3 rows out. */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg((max(when(col("event_type") === "view", 1).otherwise(0)) +
        max(when(col("event_type") === "click", 1).otherwise(0)) * 2 +
        max(when(col("event_type") === "signup", 1).otherwise(0)) * 4)
        .as("t"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"))
      .localCheckpoint() // 8 rows; feeds vsum and the total
    val subsets = (0 until 8).toDF("s")
    val vsum = subsets.crossJoin(cells)
      .filter(expr("(t & s) = t"))
      .groupBy("s").agg(sum("n_conv").as("v"))
      // subsets with no qualifying touchset (possible at tiny SF)
      .unionByName(subsets.select(col("s"), lit(0L).as("v")))
      .groupBy("s").agg(max("v").as("v"))
    val tot = cells.agg(sum("n_users").as("n_total"))
    val channels = Seq((1, "view"), (2, "click"), (4, "signup"))
      .toDF("c", "channel")
    channels.crossJoin(vsum.select(col("s"), col("v")))
      .filter(expr("(s & c) = 0"))
      .join(vsum.select(col("s").as("s1"), col("v").as("v1")),
        expr("s1 = (s | c)"))
      .select(col("channel"),
        expr("CASE bit_count(s) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END")
          .as("w6"),
        (col("v1") - col("v")).as("dv"))
      .groupBy("channel").agg(sum(expr("w6 * dv")).as("num6"))
      .crossJoin(tot)
      .crossJoin(broadcast(
        vsum.filter(col("s") === 7).select(col("v").as("v_all"))))
      .crossJoin(broadcast(
        vsum.filter(col("s") === 0).select(col("v").as("v_none"))))
      .select(col("channel"),
        expr("CAST(CAST(num6 AS DECIMAL(38,0)) * 1000000" +
          " div (6 * CAST(n_total AS DECIMAL(38,0))) AS BIGINT)")
          .as("shapley_ppm"),
        expr("CAST(CAST(v_all AS DECIMAL(38,0)) * 1000000 div n_total" +
          " AS BIGINT)").as("v_all_ppm"),
        expr("CAST(CAST(v_none AS DECIMAL(38,0)) * 1000000 div n_total" +
          " AS BIGINT)").as("v_none_ppm"))
  }

  /** NEXT-TOUCH (forward) attribution — [[lastTouchAttribution]]'s
    * mirror, and the other half every attribution report needs: for
    * each NON-purchase event, the user's next purchase within a
    * 7-day horizon (what did this touch lead to?), computed with a
    * FOLLOWING-frame conditional `first` over the same user-keyed
    * window — one shuffle on user_id regardless of history length,
    * never a self-join. Touches whose next purchase falls outside the
    * horizon report NULL (a real non-conversion signal); the horizon
    * check is exact epoch-nano arithmetic. */
  def nextTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val horizonNs = 7L * 86400L * 1000000000L
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("nxt",
        first(when(col("event_type") === "purchase",
          struct(col("event_id"), col("ts"))), ignoreNulls = true).over(w))
      .filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("touch_id"), col("user_id"),
        col("event_type").as("touch_type"),
        when(col("nxt.ts") - col("ts") <= horizonNs, col("nxt.event_id"))
          .as("purchase_id"),
        when(col("nxt.ts") - col("ts") <= horizonNs,
          col("nxt.ts") - col("ts")).as("gap_ns"))
  }

  /** Power-iteration rounds for [[textRank]]; the oracle unrolls the
    * same count. */
  val TextRankRounds = 3

  /** Integer mass budget shared by [[textRank]] and
    * [[markovRemoval]]: 10¹² keeps six significant digits through
    * repeated floor-division rounds while every intermediate product
    * stays far under Long.MaxValue (see the split-identity notes). */
  private val MassTotal = 1000000000000L

  /** TEXTRANK corpus keywords (Mihalcea & Tarau, EMNLP'04): PageRank
    * over the word ADJACENCY graph — nodes are content tokens
    * (alphabetic, non-stopword — the RAKE gate), edges are symmetrized
    * bigram co-occurrence counts served from the build-once persisted
    * bigram index ([[BigramIndex]], the same artifact the
    * surprisal and Kneser-Ney queries ride). Each of the
    * [[TextRankRounds]] damped rounds moves integer mass with the
    * overflow-free split identity (mass div ow)·w + ((mass mod ow)·w)
    * div ow (exact floor, products bounded by mass and ow·w — see
    * GraphOps.pageRank), teleport (15% of 10¹²)/|V| from a broadcast
    * 1-row node count; bit-deterministic where float PageRank drifts
    * with merge order. Output: top-20 tokens by mass, total-ordered
    * (mass desc, token) so the cut is unambiguous in both engines.
    *
    * Scale: the graph build is one index scan (persisted parquet —
    * Zipf-skewed join keys stay AQE-splittable); each round is one
    * token-keyed join + aggregate, exactly [[GraphOps.pageRank]]'s
    * shape with a 10⁵⁺-node vocabulary instead of 25 nations. */
  def textRank(spark: SparkSession, dir: String,
      rounds: Int = TextRankRounds): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val dirEdges = spark.read.parquet(s"${BigramIndex.path(spark, dir)}/bigram")
      .select(split(col("xy"), " ").getItem(0).as("src"),
        split(col("xy"), " ").getItem(1).as("dst"), col("cxy").as("w"))
      .filter(col("src") =!= col("dst") &&
        !col("src").isin(stop: _*) && !col("dst").isin(stop: _*) &&
        col("src").rlike("^[a-z]+$") && col("dst").rlike("^[a-z]+$"))
    val und = dirEdges
      .union(dirEdges.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      // Out-mass fused INTO the checkpointed edge table (r19): ow is
      // round-invariant, but as a separate `und.groupBy("src")` table
      // every round paid one edge-keyed join + aggregate to re-attach
      // it. One src-partitioned window at build time replaces
      // rounds × (join + aggregate).
      .withColumn("ow", sum("w").over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint() // feeds every round; cuts lineage
    val nodes = und.select(col("src").as("node")).distinct()
      .localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("nn"))
    var mass = nodes.crossJoin(nn)
      .select(col("node"), expr(s"$MassTotal div nn").as("mass"))
    for (_ <- 0 until rounds) {
      // Per-round checkpoint + broadcast pins (r19 — the
      // labelPropagation/markovChain winner pattern; unlike pageRank's
      // measured negative, the pinned mass table is FLAT
      // post-checkpoint, not a growing lazy plan nested into the
      // broadcast build). Both pinned sides are ≤ |V| rows — the
      // content vocabulary; at a vocabulary too large to broadcast,
      // drop the pins and leave the joins to AQE (the bfsHops ceiling
      // note applies).
      val in = und.join(broadcast(mass), col("node") === col("src"))
        .select(col("dst"),
          expr("(mass div ow) * w + ((mass % ow) * w) div ow").as("c"))
        .groupBy("dst").agg(sum("c").as("inm"))
      val next = nodes.crossJoin(nn)
        .join(broadcast(in), col("node") === col("dst"), "left")
        .select(col("node"),
          (expr("85 * coalesce(inm, 0L) div 100") +
            expr(s"(15 * $MassTotal div 100) div nn")).as("mass"))
      mass = next.localCheckpoint()
    }
    mass.orderBy(col("mass").desc, col("node"))
      .limit(20)
      .select(col("node").as("token"), col("mass").as("rank_mass"))
  }

  /** Bounded-horizon rounds for [[markovRemoval]]; with journeys cut
    * at first conversion the transient chain drains geometrically, so
    * 12 rounds capture the absorption mass to well past the 10⁻⁶
    * output resolution. The oracle unrolls the same count. */
  val MarkovRounds = 12

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014) — the
    * chain-model answer where [[shapleyAttribution]] is the
    * coalition-model one and [[lastTouchAttribution]] the heuristic:
    * user journeys (events ordered by (ts, event_id), cut at the FIRST
    * purchase) become a first-order chain START → {view, click,
    * signup, error} → CONV | END; a channel's credit is its REMOVAL
    * EFFECT — how much absorption into CONV drops when every
    * transition INTO the channel is redirected to END (outflow totals
    * are preserved, so the chain stays stochastic without
    * renormalizing). All five scenarios (baseline + 4 removals)
    * advance through ONE shared matvec loop keyed (scenario, state):
    * integer mass via the split identity, CONV/END absorbing via
    * weight-1 self-loops, [[MarkovRounds]] bounded rounds —
    * bit-deterministic where textbook absorbing-chain inversion is
    * float. Output per channel: conversion probability under removal,
    * removal effect, and the normalized attribution share.
    *
    * Scale: ONE events scan → per-user windows (partitioned by
    * user_id) → a ≤|states|²-cell transition table; everything after
    * is algebra on ≤ 5·36 bounded rows, independent of corpus size. */
  def markovRemoval(spark: SparkSession, dir: String,
      rounds: Int = MarkovRounds): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("user_id")
    val seq = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("conv_rn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wAll))
    val j = seq
      .filter(col("conv_rn").isNull || col("rn") <= col("conv_rn"))
      .withColumn("state", when(col("event_type") === "purchase", "CONV")
        .otherwise(col("event_type")))
      .withColumn("mx", max("rn").over(wAll))
    val steps = j
      .withColumn("src", lag(col("state"), 1, "START").over(wOrd))
      .select(col("src"), col("state").as("dst"))
    val lasts = j.filter(col("rn") === col("mx") && col("state") =!= "CONV")
      .select(col("state").as("src"), lit("END").as("dst"))
    val tc = steps.union(lasts).groupBy("src", "dst")
      .agg(count(lit(1)).as("c"))
    val scn = Seq("none", "view", "click", "signup", "error").toDF("scn")
    val st = tc.crossJoin(broadcast(scn))
      .filter(col("src") =!= col("scn"))
      .select(col("scn"),
        col("src"),
        when(col("dst") === col("scn"), "END").otherwise(col("dst"))
          .as("dst"),
        col("c"))
      .groupBy("scn", "src", "dst").agg(sum("c").as("c"))
      .union(scn.select(col("scn"), lit("CONV").as("src"),
        lit("CONV").as("dst"), lit(1L).as("c")))
      .union(scn.select(col("scn"), lit("END").as("src"),
        lit("END").as("dst"), lit(1L).as("c")))
    // Fold the per-(scenario, src) outflow total into the transition
    // table ONCE — it is constant across rounds, so the loop body is a
    // single join instead of two.
    val stw = st.join(
        st.groupBy("scn", "src").agg(sum("c").as("ow"))
          .withColumnRenamed("scn", "oscn").withColumnRenamed("src", "osrc"),
        col("oscn") === col("scn") && col("osrc") === col("src"))
      .select(col("scn"), col("src"), col("dst"), col("c"), col("ow"))
      .localCheckpoint() // ≤ 5·36 rows; feeds every round
    var mass = scn.select(col("scn").as("mscn"),
      lit("START").as("state"), lit(MassTotal).as("mass"))
    for (r <- 1 to rounds) {
      // r18 broadcast pinning: stw is ≤ |scenarios|·|states|² ≤ 5·36
      // rows BY CONSTRUCTION (the state space is the event-type enum),
      // but its localCheckpoint strips stats and the round defaulted
      // to sort-merge — 2 exchanges + sorts per round over ≤180 rows.
      mass = mass
        .join(broadcast(stw),
          col("scn") === col("mscn") && col("src") === col("state"))
        .select(col("scn"), col("dst"),
          expr("(mass div ow) * c + ((mass % ow) * c) div ow").as("f"))
        .groupBy("scn", "dst").agg(sum("f").as("mass"))
        .select(col("scn").as("mscn"), col("dst").as("state"), col("mass"))
      // Checkpoint every 4th round, not every round: the vector is
      // ≤ 5·7 rows, so 4 rounds of chained lineage plan fine, and each
      // skipped checkpoint is one whole Spark job saved (12 → 3).
      if (r % 4 == 0) mass = mass.localCheckpoint()
    }
    val fin = mass.filter(col("state") === "CONV")
      .select(col("mscn"), col("mass"))
    val base = fin.filter(col("mscn") === "none")
      .select(col("mass").as("bm"))
    val eff = fin.filter(col("mscn") =!= "none").crossJoin(broadcast(base))
      .select(col("mscn").as("channel"),
        expr(s"mass * 1000000 div $MassTotal").as("conv_prob_micro"),
        expr(s"bm * 1000000 div $MassTotal").as("base_prob_micro"),
        expr("(bm - mass) * 1000000 div bm").as("removal_micro"))
    val tot = eff.agg(sum("removal_micro").as("tr"))
    eff.crossJoin(broadcast(tot))
      .select(col("channel"), col("conv_prob_micro"),
        col("base_prob_micro"), col("removal_micro"),
        expr("CASE WHEN tr = 0 THEN 0L" +
          " ELSE removal_micro * 1000000 div tr END")
          .as("attr_share_micro"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_textrank" -> ((s, d) => textRank(s, d)),
    "q_markov_removal" -> ((s, d) => markovRemoval(s, d)),
    "q_shapley_attribution" -> shapleyAttribution,
    "q_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "q_bigram_surprisal" -> bigramSurprisal,
    "q_dsir_weights" -> dsirWeights,
    "q_kneser_ney" -> ((s, d) => kneserNey(s, d)),
    "q_attribution" -> lastTouchAttribution,
    "q_next_touch" -> nextTouchAttribution)

  /** RRF oracle generated from the SAME term list as the operator. */
  private lazy val hybridRrfSql: String = {
    val termList = TextAnalysis.Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
       |  FROM documents),
       |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |       FROM words WHERE w IN ($termList) GROUP BY 1, 2),
       |dfw AS (SELECT w, CAST(count(*) AS BIGINT) AS dfw FROM tf GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |lex AS (
       |  SELECT doc_id, sum(tf * (n_docs // dfw)) AS lex_score
       |  FROM tf JOIN dfw USING (w) CROSS JOIN nd GROUP BY 1),
       |lextop AS (
       |  SELECT doc_id, lex_rank FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY lex_score DESC, doc_id) AS INT) AS lex_rank FROM lex)
       |  WHERE lex_rank <= 20),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |vec AS (
       |  SELECT e.vec_id AS doc_id,
       |         round(${cosSql("q.qv", "e.embedding")}, 6) AS cos_sim
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
       |vectop AS (
       |  SELECT doc_id, vec_rank FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY cos_sim DESC, doc_id) AS INT) AS vec_rank FROM vec)
       |  WHERE vec_rank <= 20),
       |f AS (
       |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         l.lex_rank, v.vec_rank,
       |         CAST(coalesce(1000000000 // (60 + l.lex_rank), 0)
       |       + coalesce(1000000000 // (60 + v.vec_rank), 0) AS BIGINT)
       |           AS rrf_ppb
       |  FROM lextop l FULL JOIN vectop v ON l.doc_id = v.doc_id)
       |SELECT doc_id, lex_rank, vec_rank, rrf_ppb, fused_rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    ORDER BY rrf_ppb DESC, doc_id) AS INT) AS fused_rank FROM f)
       |WHERE fused_rank <= 10""".stripMargin
  }

  /** Oracle for [[textRank]]: bigram graph rebuilt from documents,
    * the damped rounds unrolled as CTEs (the pageRank technique). */
  private def textRankSql(rounds: Int): String = {
    val stop = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"
    val roundCtes = (1 to rounds).map { r =>
      s"""i$r AS (
         |  SELECT u.dst,
         |         CAST(sum((m.mass // o.ow) * u.w
         |           + ((m.mass % o.ow) * u.w) // o.ow) AS BIGINT) AS inm
         |  FROM und u JOIN outm o ON o.src = u.src
         |  JOIN m${r - 1} m ON m.node = u.src GROUP BY 1),
         |m$r AS (
         |  SELECT n.node, 85 * coalesce(i.inm, 0) // 100
         |    + (15 * 1000000000000 // 100) // x.nn AS mass
         |  FROM nodes n CROSS JOIN nn x
         |  LEFT JOIN i$r i ON i.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT regexp_split_to_array(lower(text), '\\s+') AS ws
       |  FROM documents),
       |big AS (
       |  SELECT unnest(list_transform(range(2, len(ws) + 1),
       |    i -> ws[i-1] || ' ' || ws[i])) AS xy FROM t),
       |bc AS (SELECT str_split(xy, ' ')[1] AS src,
       |              str_split(xy, ' ')[2] AS dst,
       |              CAST(count(*) AS BIGINT) AS w
       |       FROM big GROUP BY 1, 2),
       |de AS (
       |  SELECT src, dst, w FROM bc
       |  WHERE src <> dst
       |    AND src NOT IN ($stop) AND dst NOT IN ($stop)
       |    AND regexp_matches(src, '^[a-z]+${"$"}')
       |    AND regexp_matches(dst, '^[a-z]+${"$"}')),
       |und AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |          SELECT src, dst, w FROM de
       |          UNION ALL SELECT dst AS src, src AS dst, w FROM de)
       |        GROUP BY 1, 2),
       |outm AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
       |         FROM und GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM und),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |m0 AS (SELECT node, 1000000000000 // nn AS mass
       |       FROM nodes CROSS JOIN nn),
       |$roundCtes
       |SELECT node AS token, CAST(mass AS BIGINT) AS rank_mass
       |FROM m$rounds ORDER BY mass DESC, node LIMIT 20""".stripMargin
  }

  /** Oracle for [[markovRemoval]]: journey chain + the bounded
    * absorption rounds unrolled as CTEs. */
  private def markovRemovalSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""m$r AS (
         |  SELECT t.scn, t.dst AS state,
         |         CAST(sum((m.mass // o.ow) * t.c
         |           + ((m.mass % o.ow) * t.c) // o.ow) AS BIGINT) AS mass
         |  FROM m${r - 1} m
         |  JOIN st t ON t.scn = m.scn AND t.src = m.state
         |  JOIN outm o ON o.scn = t.scn AND o.src = t.src
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type, row_number() OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |conv AS (SELECT user_id, min(rn) AS conv_rn FROM seq
       |         WHERE event_type = 'purchase' GROUP BY 1),
       |j AS (
       |  SELECT s.user_id, s.rn,
       |         CASE WHEN s.event_type = 'purchase' THEN 'CONV'
       |           ELSE s.event_type END AS state
       |  FROM seq s LEFT JOIN conv c USING (user_id)
       |  WHERE c.conv_rn IS NULL OR s.rn <= c.conv_rn),
       |steps AS (
       |  SELECT coalesce(lag(state) OVER (
       |    PARTITION BY user_id ORDER BY rn), 'START') AS src,
       |         state AS dst FROM j),
       |lasts AS (
       |  SELECT state AS src, 'END' AS dst FROM (
       |    SELECT state, rn, max(rn) OVER (PARTITION BY user_id) AS mx
       |    FROM j) WHERE rn = mx AND state <> 'CONV'),
       |tc AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM (
       |         SELECT * FROM steps UNION ALL SELECT * FROM lasts)
       |       GROUP BY 1, 2),
       |scn AS (SELECT unnest(['none', 'view', 'click', 'signup',
       |                       'error']) AS scn),
       |st AS (
       |  SELECT scn.scn, t.src,
       |         CASE WHEN t.dst = scn.scn THEN 'END' ELSE t.dst END AS dst,
       |         CAST(sum(t.c) AS BIGINT) AS c
       |  FROM tc t CROSS JOIN scn WHERE t.src <> scn.scn GROUP BY 1, 2, 3
       |  UNION ALL SELECT scn, 'CONV', 'CONV', CAST(1 AS BIGINT) FROM scn
       |  UNION ALL SELECT scn, 'END', 'END', CAST(1 AS BIGINT) FROM scn),
       |outm AS (SELECT scn, src, CAST(sum(c) AS BIGINT) AS ow
       |         FROM st GROUP BY 1, 2),
       |m0 AS (SELECT scn, 'START' AS state,
       |              CAST(1000000000000 AS BIGINT) AS mass FROM scn),
       |$roundCtes,
       |fin AS (SELECT scn, mass FROM m$rounds WHERE state = 'CONV'),
       |base AS (SELECT mass AS bm FROM fin WHERE scn = 'none'),
       |eff AS (
       |  SELECT scn AS channel,
       |         mass * 1000000 // 1000000000000 AS conv_prob_micro,
       |         bm * 1000000 // 1000000000000 AS base_prob_micro,
       |         (bm - mass) * 1000000 // bm AS removal_micro
       |  FROM fin CROSS JOIN base WHERE scn <> 'none'),
       |tot AS (SELECT CAST(sum(removal_micro) AS BIGINT) AS tr FROM eff)
       |SELECT channel,
       |       CAST(conv_prob_micro AS BIGINT) AS conv_prob_micro,
       |       CAST(base_prob_micro AS BIGINT) AS base_prob_micro,
       |       CAST(removal_micro AS BIGINT) AS removal_micro,
       |       CAST(CASE WHEN tr = 0 THEN 0
       |         ELSE removal_micro * 1000000 // tr END AS BIGINT)
       |         AS attr_share_micro
       |FROM eff CROSS JOIN tot""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_textrank" -> textRankSql(TextRankRounds),
    "q_markov_removal" -> markovRemovalSql(MarkovRounds),
    "q_hybrid_rrf" -> hybridRrfSql,
    "q_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |big AS (
        |  SELECT unnest(list_transform(range(2, len(ws) + 1),
        |         i -> ws[i-1] || ' ' || ws[i])) AS xy
        |  FROM toks),
        |b2 AS (
        |  SELECT xy, CAST(count(*) AS BIGINT) AS cxy,
        |         str_split(xy, ' ')[1] AS x, str_split(xy, ' ')[2] AS y
        |  FROM big GROUP BY 1),
        |lft AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS c1x,
        |               CAST(count(*) AS BIGINT) AS n1p_x
        |        FROM b2 GROUP BY 1),
        |cont AS (SELECT y, CAST(count(*) AS BIGINT) AS cont_y
        |         FROM b2 GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM b2),
        |top AS (SELECT * FROM b2 ORDER BY cxy DESC, xy LIMIT 20)
        |SELECT t.xy, t.cxy, l.c1x, l.n1p_x, c.cont_y, n.n_types,
        |       CAST(((4 * CAST(t.cxy AS HUGEINT) - 3) * n.n_types
        |             + 3 * CAST(l.n1p_x AS HUGEINT) * c.cont_y) * 1000000
        |            // (4 * CAST(l.c1x AS HUGEINT) * n.n_types)
        |         AS BIGINT) AS pkn_micro
        |FROM top t JOIN lft l USING (x) JOIN cont c USING (y)
        |CROSS JOIN nt n""".stripMargin,
    "q_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(lower(text), '\s+') AS ws
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, lang, unnest(list_transform(range(2, len(ws) + 1),
        |         i -> ws[i-1] || ' ' || ws[i])) AS xy
        |  FROM toks),
        |bcnt AS (SELECT xy, CAST(count(*) AS BIGINT) AS cxy
        |         FROM big GROUP BY 1),
        |fcnt AS (SELECT str_split(xy, ' ')[1] AS x,
        |                CAST(count(*) AS BIGINT) AS cx1
        |         FROM big GROUP BY 1),
        |perdoc AS (
        |  SELECT b.doc_id, b.lang, count(*) AS n_bigrams,
        |         sum(1000000 * f.cx1 // c.cxy) AS s
        |  FROM big b JOIN bcnt c USING (xy)
        |  JOIN fcnt f ON f.x = str_split(b.xy, ' ')[1]
        |  GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |       CAST(s // n_bigrams AS BIGINT) AS surprisal_micro
        |FROM perdoc""".stripMargin,
    "q_dsir_weights" ->
      """WITH words AS (
        |  SELECT doc_id, lang,
        |         unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |  FROM documents),
        |raw AS (SELECT w, CAST(count(*) AS BIGINT) AS cr
        |        FROM words GROUP BY 1),
        |tgt AS (SELECT w, CAST(count(*) AS BIGINT) AS ct
        |        FROM words WHERE lang = 'en' GROUP BY 1),
        |tots AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
        |                (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt),
        |ratio AS (
        |  SELECT r.w,
        |         CAST(CAST(1000000 AS HUGEINT) * coalesce(t.ct, 0) * x.nr
        |              // (CAST(r.cr AS HUGEINT) * x.nt) AS BIGINT) AS rw
        |  FROM raw r LEFT JOIN tgt t USING (w) CROSS JOIN tots x),
        |perdoc AS (
        |  SELECT doc_id, lang, count(*) AS n_tokens, sum(rw) AS s
        |  FROM words JOIN ratio USING (w) GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(s // n_tokens AS BIGINT) AS dsir_micro
        |FROM perdoc""".stripMargin,
    "q_shapley_attribution" ->
      """WITH per AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |       + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |       + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |           AS t,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY 1),
        |cells AS (SELECT t, CAST(count(*) AS BIGINT) AS n_users,
        |                 CAST(sum(conv) AS BIGINT) AS n_conv
        |          FROM per GROUP BY 1),
        |subsets AS (SELECT CAST(range AS INT) AS s FROM range(0, 8)),
        |vsum AS (
        |  SELECT s, CAST(coalesce(sum(CASE WHEN (t & s) = t
        |    THEN n_conv END), 0) AS BIGINT) AS v
        |  FROM subsets LEFT JOIN cells ON (t & s) = t GROUP BY s),
        |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_total FROM cells),
        |ch(c, channel) AS (VALUES (1, 'view'), (2, 'click'), (4, 'signup')),
        |marg AS (
        |  SELECT ch.channel,
        |         CASE bit_count(a.s) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END
        |           AS w6,
        |         b.v - a.v AS dv
        |  FROM ch JOIN vsum a ON (a.s & ch.c) = 0
        |  JOIN vsum b ON b.s = (a.s | ch.c)),
        |shap AS (SELECT channel, CAST(sum(w6 * dv) AS BIGINT) AS num6
        |         FROM marg GROUP BY 1)
        |SELECT sh.channel,
        |       CAST(CAST(num6 AS HUGEINT) * 1000000
        |         // (6 * CAST(t.n_total AS HUGEINT)) AS BIGINT)
        |         AS shapley_ppm,
        |       CAST(CAST(v7.v AS HUGEINT) * 1000000 // t.n_total AS BIGINT)
        |         AS v_all_ppm,
        |       CAST(CAST(v0.v AS HUGEINT) * 1000000 // t.n_total AS BIGINT)
        |         AS v_none_ppm
        |FROM shap sh CROSS JOIN tot t
        |CROSS JOIN (SELECT v FROM vsum WHERE s = 7) v7
        |CROSS JOIN (SELECT v FROM vsum WHERE s = 0) v0""".stripMargin,
    "q_next_touch" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        |  FROM events),
        |nx AS (
        |  SELECT *,
        |         first_value(CASE WHEN event_type = 'purchase'
        |             THEN event_id END IGNORE NULLS) OVER w AS nxt_id,
        |         first_value(CASE WHEN event_type = 'purchase'
        |             THEN tsn END IGNORE NULLS) OVER w AS nxt_ts
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id AS touch_id, user_id,
        |       event_type AS touch_type,
        |       CASE WHEN nxt_ts - tsn <= 604800000000000
        |         THEN nxt_id END AS purchase_id,
        |       CASE WHEN nxt_ts - tsn <= 604800000000000
        |         THEN nxt_ts - tsn END AS gap_ns
        |FROM nx WHERE event_type <> 'purchase'""".stripMargin,
    "q_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn
        |  FROM events),
        |a AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_id END
        |      IGNORE NULLS) OVER w AS src_event_id,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS src_event_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN tsn END
        |      IGNORE NULLS) OVER w AS src_tsn
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS purchase_id, user_id, tsn AS purchase_ts_ns,
        |       src_event_id, src_event_type, tsn - src_tsn AS gap_ns
        |FROM a WHERE event_type = 'purchase'""".stripMargin)
}
