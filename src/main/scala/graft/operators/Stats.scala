package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Exact-integer statistical operators — the regression/correlation/
  * concentration questions an analytics engine answers over a corpus or
  * a fact table, each computed in closed-form integer (DECIMAL(38))
  * arithmetic so Spark and the DuckDB oracle agree bit-for-bit (no libm
  * anywhere; negative results via the sign/abs split because Spark
  * `div` truncates toward zero while DuckDB `//` floors).
  *
  * Reference anchor: the consumer-side aggregation loop
  * (reference/consumer/order_consumer.py — running per-product stats)
  * asks "what is the trend"; these operators answer it engine-exactly
  * and distributed.
  */
object Stats {

  /** Per-priority OLS trend slope of monthly revenue, in exact
    * micro-cents-per-month: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * with x = month index since 1992-01 and y = monthly revenue cents.
    * One full-table scan feeds a map-side-combined (priority, month)
    * aggregate; the OLS sums run over that tiny grid. Products are
    * DECIMAL(38) so nothing overflows at 100 TB, and the division is
    * integer `div` on abs values with the sign applied afterward.
    */
  def trendSlope(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("priority", "mo")
      .agg(sum("cents").as("rev"))
      .select(col("priority"), col("mo").cast("decimal(38,0)").as("x"),
        col("rev").cast("decimal(38,0)").as("y"))
      .groupBy("priority")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .selectExpr("priority",
        "CAST(n AS BIGINT) AS n_months",
        "CAST(sy AS BIGINT) AS total_cents",
        "n * sxy - sx * sy AS num", "n * sxx - sx * sx AS den")
      .selectExpr("priority", "n_months", "total_cents",
        """CAST(CASE WHEN num >= 0 THEN (num * 1000000) div den
          |     ELSE -((-num * 1000000) div den) END AS BIGINT)
          |  AS slope_micro""".stripMargin)

  /** Spearman rank correlation between per-customer order count and
    * total spend, ρ·10⁶ exact: ρ = 1 − 6Σd²/(n(n²−1)) on tie-broken
    * ranks (order key (metric, custkey) is unique, so ranks are a
    * well-defined permutation in both engines). The two global ranks
    * are DISTRIBUTED — `Packing.withGlobalCumsum` of weight 1 (range
    * shuffle → broadcast triangular prefix → local window), never an
    * unpartitioned `row_number` over the customer universe.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("y"))
      .withColumn("one", lit(1L))
    val rx = Packing.withGlobalCumsum(per, "one", Seq("x", "ck"))
      .withColumnRenamed("cum_before", "rx0")
    Packing.withGlobalCumsum(rx, "one", Seq("y", "ck"))
      .withColumnRenamed("cum_before", "ry0")
      .select((col("rx0") - col("ry0")).cast("decimal(38,0)").as("d"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(expr("d * d")).as("sd2"))
      .selectExpr("CAST(n AS BIGINT) AS n_customers",
        "CAST(sd2 AS BIGINT) AS sum_d2",
        "n * (n * n - 1) AS t", "6 * sd2 AS s6")
      .selectExpr("n_customers", "sum_d2",
        """CAST(CASE WHEN t = 0 THEN 1000000
          |     WHEN t - s6 >= 0 THEN ((t - s6) * 1000000) div t
          |     ELSE -(((s6 - t) * 1000000) div t) END AS BIGINT)
          |  AS rho_micro""".stripMargin)
  }

  /** Per-language source-concentration profile: HHI (Σ share²) and its
    * Gini-impurity complement in exact ppm — the "is this language fed
    * by one crawl or many" diversity question a training-mix data card
    * answers. One (lang, source) aggregate over the corpus; the
    * concentration arithmetic runs on the tiny cell table, shares never
    * materialize as floats (obs²·10⁶ div n² in DECIMAL(38)).
    */
  def giniHhi(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sources"), sum("c").as("n_docs"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
      .selectExpr("lang", "n_sources", "n_docs",
        """CAST((s2 * 1000000) div (CAST(n_docs AS DECIMAL(38,0)) * n_docs)
          |  AS BIGINT) AS hhi_ppm""".stripMargin)
      .selectExpr("lang", "n_sources", "n_docs", "hhi_ppm",
        "CAST(1000000 - hhi_ppm AS BIGINT) AS gini_ppm")

  private val StopList = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality-filter SELECTIVITY SWEEP: docs and tokens retained at each
    * stopword-ratio cutoff (5%-wide ppm buckets) — the "where do we set
    * the filter to hit the token budget" curve, the planning query run
    * before committing a corpus-wide quality gate. Full scan → 20-row
    * bucket aggregate; the cumulative-retention arithmetic is a
    * broadcast triangular self-join over those 20 rows (house prefix
    * discipline — no window anywhere, nothing unbounded past the agg).
    */
  def qualitySelectivity(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val buckets = Tables.documents(spark, dir)
      .select(size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(StopList.map(lit(_)): _*)))
          .cast("long").as("n_stop"))
      .select(col("n_tokens"),
        expr("n_stop * 1000000 div greatest(n_tokens, 1L)").as("ratio_ppm"))
      .select(expr("least(ratio_ppm div 50000, 19L)").as("bucket"),
        col("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    buckets
      .join(broadcast(buckets.select(col("bucket").as("b2"),
        col("n_docs").as("d2"), col("n_tokens").as("t2"))),
        col("b2") <= col("bucket"))
      .groupBy("bucket", "n_docs", "n_tokens")
      .agg(sum("d2").as("docs_kept"), sum("t2").as("tokens_kept"))
      .select(col("bucket"), ((col("bucket") + 1) * 50000L).as("threshold_ppm"),
        col("n_docs"), col("n_tokens"), col("docs_kept"), col("tokens_kept"))
  }

  /** Deterministic WEIGHTED sample (priority sampling, Ohlsson/DLT
    * style): each doc draws u = 48-bit md5 uniform, priority key =
    * u·10⁴ div weight — heavier docs get systematically smaller keys,
    * the k smallest keys are the sample. Entirely integer, seeded, and
    * reproducible across engines AND across reruns (the property an
    * auditable training-mix draw needs). Plans as TakeOrderedAndProject:
    * per-partition top-k then a k-row driver merge — no global sort of
    * the corpus.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("weight"),
        expr("CAST(conv(substr(md5(concat('ws_', CAST(doc_id AS STRING))), 1, 12), " +
          "16, 10) AS DECIMAL(38,0))").as("u"))
      .select(col("doc_id"), col("weight"),
        expr("CAST((u * 10000) div greatest(CAST(weight AS DECIMAL(38,0)), 1) " +
          "AS BIGINT)").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)

  /** QUANTILE NORMALIZATION across sources: every doc's length score is
    * replaced by the GLOBAL value at the same within-source quantile —
    * the cross-source score-comparability transform (per-source rank r
    * of m maps to global rank r·(n−1) div (m−1), then a rank→value
    * join). Both rank sides are distributed primitives — the grouped
    * exact rank (range shuffle + per-(partition, group) offsets) and
    * the global cumsum-of-ones — so no `PARTITION BY source` or global
    * window ever sees raw rows; the final rank→value equi-join shuffles
    * two slim long-keyed projections. Tie-broken on doc_id, so the map
    * is a well-defined permutation in both engines.
    */
  def quantileNorm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val grouped = Profiling.withGroupedRank(docs, "source", "n_chars", "doc_id")
    val global = Packing.withGlobalCumsum(
      docs.select(col("n_chars").as("g_chars"), col("doc_id").as("g_doc"))
        .withColumn("one", lit(1L)),
      "one", Seq("g_chars", "g_doc"))
      .select(col("cum_before").as("grk0"), col("g_chars").as("norm_chars"))
    val total = docs.agg(count(lit(1)).as("nt"))
    grouped.crossJoin(total)
      .withColumn("g", expr("CAST(CASE WHEN n = 1 THEN (nt - 1) div 2 " +
        "ELSE (CAST(rk0 AS DECIMAL(38,0)) * (nt - 1)) div (n - 1) END AS BIGINT)"))
      .join(global, col("g") === col("grk0"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("norm_chars"))
  }

  /** Two-sample KOLMOGOROV-SMIRNOV distance between the 1995 and 1996
    * order-price distributions — the standard distribution-DRIFT
    * monitor (has this month's data shifted vs last month's?) in its
    * log-free exact form: D = max over distinct values v of
    * |F₁(v) − F₂(v)| reported as the integer pair
    * (max |c₁(v)·n₂ − c₂(v)·n₁|, n₁·n₂) plus the floor-ppm ratio — no
    * float CDFs, so the drift score is bit-reproducible and
    * hash-checked (a PSI would need logs; KS is the drift statistic
    * that stays in integers).
    *
    * Plan: one scan → (cents, side) conditional-count aggregate (one
    * row per distinct value) → ONE fused [[Packing.withGlobalCumsums]]
    * pass computing BOTH CDFs (c₁ and c₂ share the cents ordering, so
    * one range shuffle + one window pass carries both running sums —
    * zero unpartitioned windows) → one max aggregate against the
    * broadcast (n₁, n₂) row. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        when(year(col("o_orderdate")) === 1995, 1).otherwise(2).as("side"))
    val g = s.groupBy("cents")
      .agg(count(when(col("side") === 1, 1)).as("c1"),
        count(when(col("side") === 2, 1)).as("c2"))
    val cum2 = Packing.withGlobalCumsums(g,
      Seq("c1" -> "cb1", "c2" -> "cb2"), Seq("cents"))
    // Totals read back off the cumsum OUTPUT (r19): same sums, but
    // cum2's subtree is checkpointed inside withGlobalCumsums, so this
    // branch costs one window pass over the materialized cell table —
    // the old `g.agg(...)` re-ran the scan + cell aggregate in full.
    // (The per-row D needs n1/n2 on every row, so unlike wilcoxon/MW
    // the crossJoin itself cannot fuse away.)
    val totals = cum2.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cum2.crossJoin(totals)
      .select(col("n1"), col("n2"),
        abs((col("cb1") + col("c1")) * col("n2") -
          (col("cb2") + col("c2")) * col("n1")).as("d"))
      .groupBy("n1", "n2")
      .agg(max("d").as("ks_num"))
      .select(col("n1"), col("n2"), col("ks_num"),
        expr("(1000000 * ks_num) div (n1 * n2)").as("ks_ppm"))
  }

  /** Replicate count for [[bootstrapMeans]] — one per bit of the
    * 32-bit md5 prefix. */
  val BootstrapReps = 32

  /** DETERMINISTIC HALF-SAMPLE BOOTSTRAP of the mean order price: 32
    * replicates, replicate r containing order o iff bit r of
    * md5(o_orderkey)'s 32-bit prefix is set — each replicate is an
    * independent-ish random half of the orders, and the SPREAD of the
    * replicate means is the standard-error estimate every reported
    * corpus statistic should ship with (the "is this month's mean
    * actually different" error bar). md5-driven membership makes every
    * replicate a pure function of the key — no RNG state, so the whole
    * replicate table is bit-reproducible and DuckDB replays it exactly
    * (a Poisson bootstrap would need e^{-1} draws that no two engines
    * float-match).
    *
    * Plan/scale shape: ONE scan; the 32-way fan-out explodes a
    * replicate-index array per row but collapses in the SAME stage's
    * partial HashAggregate (32 groups), so the shuffle carries 32 rows
    * per task, never 32× the data. Means in exact cents (trunc div —
    * sums positive, so floor = trunc across engines). */
  def bootstrapMeans(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        expr("CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT)").as("h"))
      .select(col("cents"), col("h"),
        explode(sequence(lit(0), lit(BootstrapReps - 1))).as("r"))
      .filter(expr("(shiftright(h, r) & 1) = 1"))
      .groupBy("r")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(col("r").cast("long").as("r"), col("n"), col("sum_cents"),
        expr("sum_cents div n").as("mean_cents"))

  /** Sample budget for [[neymanAllocation]]. */
  val NeymanBudget = 10000L

  /** NEYMAN OPTIMAL ALLOCATION of a sampling budget across strata —
    * the survey-sampling rule (n_h ∝ N_h·σ_h) that minimizes the
    * variance of the estimated mean for a fixed total sample size:
    * big AND internally-diverse strata get proportionally more budget
    * than proportional allocation gives them. The eval-set/labeling-
    * budget planner for a stratified corpus (annotate more where the
    * data varies more).
    *
    * Exactness: per-stratum variance numerator n·Σx² − (Σx)² in
    * DECIMAL(38)/HUGEINT; σ_h enters via one correctly-rounded IEEE
    * sqrt of an identical integer on both engines (the temperature-
    * mixture precedent), floored to integer micro-weights; the final
    * integer split is the Hamilton largest-remainder method (exact,
    * Σ = budget, name tiebreak — the q_mix_alloc discipline).
    *
    * Plan/scale shape: one corpus aggregate to |strata| rows;
    * everything after (weights, quotas, remainder rank) is
    * post-aggregate arithmetic over |strata| rows with a broadcast
    * 1-row total. */
  def neymanAllocation(spark: SparkSession, dir: String,
      budget: Long = NeymanBudget): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sx2"))
      .select(col("source"), col("n"),
        // var numerator over n (population variance · n²): keeps the
        // sqrt argument integral — σ_h·N_h = sqrt(n·Σx² − (Σx)²).
        expr("CAST(n * sx2 - CAST(sx AS DECIMAL(38,0)) * sx AS " +
          "DECIMAL(38,0))").as("vnum"))
      .select(col("source"), col("n"),
        // floor(sqrt + 0.5): both engines' sqrt is correctly-rounded
        // IEEE on the same integer input, so the micro-weight matches.
        expr("CAST(floor(sqrt(CAST(vnum AS DOUBLE)) + 0.5) AS BIGINT)")
          .as("w"))
      // Checkpointed (r19): |sources| rows; total + quotas both re-ran
      // the documents scan + variance aggregate without it (and the
      // quotas table below feeds two more consumers).
      .localCheckpoint()
    val total = per.agg(sum("w").as("wt"))
    val quotas = per.crossJoin(total)
      .select(col("source"), col("n"), col("w"),
        expr(s"CAST($budget AS DECIMAL(38,0)) * w div wt").as("quota"),
        expr(s"CAST(CAST($budget AS DECIMAL(38,0)) * w % wt AS BIGINT)")
          .as("rem"))
    val leftover = quotas.agg((lit(budget) - sum("quota")).as("l"))
    // Largest-remainder rank via the |sources|² triangular broadcast
    // join (see mixAllocation) instead of an unpartitioned window —
    // the checkpointed per table would hide the aggregate from the
    // window-boundedness guard, and the bounded rank needs no window
    // at all.
    val rk = quotas.as("a")
      .join(broadcast(quotas.select(col("rem").as("b_rem"),
        col("source").as("b_source"))),
        col("b_rem") > col("rem") ||
          (col("b_rem") === col("rem") && col("b_source") < col("source")),
        "left")
      .groupBy("source", "n", "w", "quota")
      .agg((count(col("b_source")) + 1).as("rk"))
    rk.crossJoin(leftover)
      .select(col("source"), col("n"), col("w"), col("quota"),
        when(col("rk") <= col("l"), 1L).otherwise(0L).as("extra"))
      .withColumn("alloc", col("quota") + col("extra"))
  }

  /** Interarrival FANO FACTOR per event type — the burstiness /
    * overdispersion statistic of each event stream: variance-to-mean
    * ratio of the per-user gaps between consecutive events of that
    * type. Fano ≈ 1 is Poisson (memoryless traffic); ≫ 1 is bursty
    * (sessions, retry storms — the signal a capacity planner or
    * anomaly baseline reads); ≪ 1 is pacemaker-regular. Entirely in
    * exact integers — fano = (n·ΣΔ² − (ΣΔ)²)·10⁶ div (n·ΣΔ) over
    * whole-second gaps — so no sqrt/float CV is needed and the report
    * hash-checks.
    *
    * Plan: one scan → (user, type)-PARTITIONED lag window (bounded per
    * user — never a global sort) → one map-side-combined hash
    * aggregate to |types| rows; Δ² sums run in DECIMAL(38). */
  def interarrivalFano(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      // integer div AFTER the subtraction: (a - b) div 1e9 is not
      // a div 1e9 - b div 1e9, and the oracle replays this exact form
      .selectExpr("event_type", "(ts - prev_ts) div 1000000000L AS gap_s")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_s").as("s"),
        sum(expr("CAST(gap_s AS DECIMAL(38,0)) * gap_s")).as("q"))
      .selectExpr("event_type", "n_gaps",
        // DECIMAL(38) wrap: s is an unbounded sum of gap seconds.
        "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 div n_gaps AS BIGINT)" +
          " AS mean_gap_s_micro",
        "CAST((CAST(n_gaps AS DECIMAL(38,0)) * q" +
          " - CAST(s AS DECIMAL(38,0)) * s) * 1000000" +
          " div (CAST(n_gaps AS DECIMAL(38,0)) * s) AS BIGINT)" +
          " AS fano_micro")
  }

  /** Exact CHANGEPOINT DETECTION on the monthly revenue series — the
    * single best two-segment split of the series, chosen by maximizing
    * the split's R² (equivalently minimizing two-segment SSE: the
    * cross-term F = S1²/n1 + S2²/n2 is the only split-dependent part,
    * and R² = (F − S²/n)/(Q − S²/n) is monotone in it). Everything is
    * integer cross-multiplication in DECIMAL(38) — the floor'd ppm is
    * the deterministic tiebreak-stable ranking key both engines
    * replay — so the detected break month is bit-reproducible, where a
    * float SSE scan could flip the argmax between engines. (At
    * year-scale series with ≫10¹⁶-cent totals, rescale the unit —
    * cents→dollars — to keep S²·n² inside DECIMAL(38); the month
    * count itself is bounded, so the search space never grows.)
    *
    * Plan: one scan → |months| monthly aggregate; prefix sums are ONE
    * window over that bounded post-aggregate series (the
    * q_lang_confusion bounded-window discipline — never over raw
    * rows); every candidate split is a pure projection of the prefix
    * row + the broadcast 1-row totals; argmax is TakeOrdered(1). */
  def changepoint(spark: SparkSession, dir: String,
      minSeg: Int = 3): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("mo").agg(sum("cents").as("rev"))
    val w = Window.orderBy("mo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = monthly.agg(count(lit(1)).as("n"), sum("rev").as("s"),
      sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("q"))
    monthly
      .withColumn("n1", count(lit(1)).over(w))
      .withColumn("s1", sum("rev").over(w))
      .crossJoin(tot)
      // minimum segment length: an unconstrained argmax degenerates to
      // isolating a single outlier month (observed: the partial final
      // month) — the standard changepoint guard
      .filter(col("n1") >= minSeg && col("n1") <= col("n") - minSeg)
      .selectExpr("mo AS break_mo", "n1", "n - n1 AS n2",
        "s1", "s - s1 AS s2", "n", "s", "q")
      .selectExpr("break_mo", "n1", "n2",
        "s1 div n1 AS mean1_cents", "s2 div n2 AS mean2_cents",
        "CAST((n * (CAST(s1 AS DECIMAL(38,0)) * s1 * n2" +
          " + CAST(s2 AS DECIMAL(38,0)) * s2 * n1)" +
          " - CAST(s AS DECIMAL(38,0)) * s * n1 * n2) * 1000000" +
          " div (CAST(n1 AS DECIMAL(38,0)) * n2" +
          " * (n * q - CAST(s AS DECIMAL(38,0)) * s)) AS BIGINT)" +
          " AS r2_ppm")
      .orderBy(col("r2_ppm").desc, col("break_mo")).limit(1)
  }

  /** SEASONALITY-ADJUSTED anomaly detection: daily revenue judged
    * against its own DAY-OF-WEEK baseline — a heavy Saturday is normal
    * if Saturdays are heavy; the global 2σ gate (q_anomalous_events)
    * would flag every weekend or miss a quiet Tuesday. Day-of-week is
    * the epoch-day mod 7 (calendar-free, engine-agnostic); the gate is
    * the exact integer variance discipline at 1.5σ:
    * 4·(n·x − S)² > 9·(nQ − S²) within the day's weekday group ⟺
    * (x − μ)² > (3σ/2)² — no float mean, no sqrt, the flagged-day SET
    * is bit-reproducible. (1.5σ rather than 2σ: a short-tailed
    * daily-total distribution — uniform's max deviation is
    * √3·σ ≈ 1.73σ — can NEVER clear 2σ, making the 2σ form a vacuous
    * detector on bounded-variation series.)
    *
    * Plan: one scan → |days| daily aggregate (map-side combined);
    * weekday baselines aggregate that post-agg table (≤7 rows,
    * broadcast back); the gate is a pure DECIMAL(38) projection. */
  def seasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000L").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("x"))
      .withColumn("dow", expr("day % 7"))
    val base = daily.groupBy("dow").agg(count(lit(1)).as("n"),
      sum("x").as("s"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
    daily.join(broadcast(base), "dow")
      .selectExpr("day", "dow", "x AS total_cents", "n AS n_days_in_dow",
        "CAST(n AS DECIMAL(38,0)) * x - s AS dev",
        "CAST(n AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s" +
          " AS nvar")
      .filter(expr("4 * dev * dev > 9 * nvar"))
      .select(col("day"), col("dow"), col("total_cents"),
        col("n_days_in_dow"), (col("dev") > 0).as("is_high"))
  }

  /** REVENUE CONCENTRATION / Lorenz deciles: customers ranked by total
    * spend (descending), bucketed into deciles by exact global rank,
    * each decile's revenue and the cumulative share — the
    * "top 10% of customers drive X% of revenue" Pareto table, the
    * customer-level sibling of [[giniHhi]]'s source-concentration
    * scalars. Shares are exact ppm; the decile assignment is the
    * calibration closed form ((k·rank) div n), deterministic under the
    * (spend desc, custkey) unique ordering.
    *
    * Plan: user-level spend is one map-side-combined aggregate; the
    * global rank is the DISTRIBUTED exact cumsum (range shuffle +
    * broadcast prefix offsets — the customer universe never transits
    * one task); everything after runs on ≤k decile rows, where the
    * cumulative share is a bounded post-aggregate window. */
  def revenueLorenz(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    val users = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .as("cents"))
      .select(col("o_custkey"), col("cents"),
        (-col("cents")).as("neg"), lit(1L).as("one"))
    val ranked = Packing.withGlobalCumsums(users,
      Seq("one" -> "rank_before"), Seq("neg", "o_custkey"))
    // Measured NEGATIVE (r19): reading these totals off the cumsum
    // OUTPUT (the ksDrift pattern) A/B'd +14% vs control +8% — an
    // aggregate over `ranked` cannot prune the prefix-offsets join
    // (inner joins affect cardinality even when every pid matches), so
    // that branch re-derives offs and re-joins just to count rows. The
    // users-side aggregate re-scans orders, but the scan is narrow and
    // map-side-combines straight into |customers| partials; ksDrift's
    // win doesn't transfer because ITS alternative re-ran a full cell
    // aggregate, not a cheap count+sum.
    val tot = users.agg(count(lit(1)).as("n_users_total"),
      sum("cents").as("rev_total"))
    val byDecile = ranked.crossJoin(tot)
      .selectExpr("cents", "rev_total",
        s"CAST(($buckets * rank_before) div n_users_total AS INT) AS decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("cents").as("revenue_cents"),
        max("rev_total").as("rev_total"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_cents", sum("revenue_cents").over(wCum))
      .selectExpr("decile", "n_users", "revenue_cents",
        "CAST(CAST(revenue_cents AS DECIMAL(38,0)) * 1000000" +
          " div rev_total AS BIGINT) AS share_ppm",
        "CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000" +
          " div rev_total AS BIGINT) AS cum_share_ppm")
  }

  /** CUSUM drift detection on daily revenue — the SEQUENTIAL
    * changepoint detector (alarm as soon as the level shifts, vs
    * [[changepoint]]'s offline best-split): S_t = max(0, S_{t−1} +
    * (x_t − μ − slack)). The recurrence looks scan-only, but it has a
    * closed PREFIX form — S_t = P_t − min_{j≤t} P_j with P the prefix
    * sums of the drift terms — so it computes as one running sum plus
    * one running min over the bounded day series: no sequential state,
    * no recursion, and exact integers after clearing μ = S/n by n
    * (slack = σ-free n·x − S − n·slack_cents form). Output: the full
    * per-day CUSUM trajectory with the alarm flag (S_t > h) — the
    * chart an operator watches, not just the alarms (a well-behaved
    * series legitimately alarms zero times).
    */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000L").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("s"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Drift term scaled by n: n·x_t − S − n·slack, slack = 2% of the
    // mean (2·S div 100 div n, folded exactly as n·slack = S div 50).
    val p = daily.crossJoin(tot)
      .selectExpr("day", "x", "n", "s",
        "CAST(n AS DECIMAL(38,0)) * x - s - s div 50 AS drift")
      .withColumn("pref", sum("drift").over(wCum))
      .withColumn("minpref",
        least(min("pref").over(wCum), lit(0L).cast("decimal(38,0)")))
      .selectExpr("day", "x", "n",
        "CAST(pref - minpref AS DECIMAL(38,0)) AS s_t")
    // Alarm when S_t (in n-scaled cents) exceeds h = n · 25% of mean
    // daily revenue ≡ s div 4.
    p.crossJoin(tot.select(col("s").as("s2")))
      .selectExpr("day", "x AS total_cents",
        "CAST(s_t div n AS BIGINT) AS cusum_cents",
        "s_t > CAST(s2 AS DECIMAL(38,0)) div 4 AS alarm")
  }

  /** ROLLING trailing-30-day OLS slope of daily revenue — the trend a
    * dashboard draws per day, not once: the [[trendSlope]] formula
    * evaluated inside a 30-row trailing window frame via the five
    * windowed sums (n, Σx, Σy, Σxy, Σx²) over the bounded post-agg
    * day series. Micro-cents-per-day, sign-split exact division. */
  def rollingSlope(spark: SparkSession, dir: String,
      windowDays: Int = 30): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000L").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("y"))
    val w = Window.orderBy("day").rowsBetween(-(windowDays - 1), 0)
    daily
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("sx", sum(expr("CAST(day AS DECIMAL(38,0))")).over(w))
      .withColumn("sy", sum(expr("CAST(y AS DECIMAL(38,0))")).over(w))
      .withColumn("sxy",
        sum(expr("CAST(day AS DECIMAL(38,0)) * y")).over(w))
      .withColumn("sxx",
        sum(expr("CAST(day AS DECIMAL(38,0)) * day")).over(w))
      .filter(col("wn") >= 2)
      .selectExpr("day", "y AS total_cents", "CAST(wn AS INT) AS n_days",
        "CAST(CASE WHEN wn * sxy - sx * sy >= 0" +
          " THEN (wn * sxy - sx * sy) * 1000000 div (wn * sxx - sx * sx)" +
          " ELSE -(((sx * sy - wn * sxy) * 1000000)" +
          " div (wn * sxx - sx * sx)) END AS BIGINT) AS slope_micro")
  }

  /** Exact LAG-k AUTOCORRELATION of the daily revenue series, at
    * lag 1 (momentum: do heavy days follow heavy days) and lag 7
    * (weekly seasonality: a spike here is the signature
    * q_seasonal_anomaly's day-of-week baseline exploits). The
    * single-denominator estimator ρ_k = Σ(x_t−μ)(x_{t+k}−μ) /
    * Σ(x_t−μ)² clears its rationals by n: numerator terms
    * (n·x_t − S)(n·x_{t+k} − S) and denominator (n·x_t − S)² are pure
    * integers, so ρ·10⁶ is an exact sign-split division — the
    * time-series diagnostic family (changepoint, Fano, KS) stays
    * libm-free.
    *
    * Plan: |days| daily aggregate → per-lag lag window over the
    * bounded post-agg series → broadcast 1-row totals → 2-row report.
    */
  def autocorr(spark: SparkSession, dir: String,
      lags: Seq[Int] = Seq(1, 7)): DataFrame = {
    // Checkpoint measured FLAT here and reverted (r19): all four
    // consumers (totals, denominator, one numerator per lag) share the
    // IDENTICAL daily-aggregate exchange, so runtime ReuseExchange
    // already computes the events pass once — and the materialization
    // turns the bounded post-aggregate lag windows into
    // unprovable-from-the-plan LeafNode inputs (the window guard).
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000L").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("x"))
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("s"))
    val w = Window.orderBy("day")
    val lagged = lags.foldLeft(daily) { (df, k) =>
      df.withColumn(s"x_$k", lag("x", k).over(w))
    }.crossJoin(broadcast(tot))
    val den = lagged.agg(
      sum(expr("(CAST(n AS DECIMAL(38,0)) * x - s)" +
        " * (CAST(n AS DECIMAL(38,0)) * x - s)")).as("den"))
    val rows = lags.map { k =>
      lagged.filter(col(s"x_$k").isNotNull)
        .agg(sum(expr(s"(CAST(n AS DECIMAL(38,0)) * x - s)" +
          s" * (CAST(n AS DECIMAL(38,0)) * x_$k - s)")).as("num"),
          count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(den))
        .selectExpr(s"$k AS lag", "n_pairs",
          "CAST(CASE WHEN num >= 0 THEN num * 1000000 div den" +
            " ELSE -((-num * 1000000) div den) END AS BIGINT)" +
            " AS autocorr_micro")
    }
    rows.reduce(_ unionByName _)
  }

  /** TIME-SERIES SIMILARITY SEARCH over the per-event-type daily
    * revenue series: exact squared Euclidean distance between every
    * series pair, computed WITHOUT materializing aligned vectors via
    * the norm+dot decomposition — Σ(a−b)² over the day UNION equals
    * ‖a‖² + ‖b‖² − 2·⟨a,b⟩ where the dot product needs only the
    * day-equi-join of co-present days (absent days contribute through
    * the norms alone). That is the same algebra the ANN family rides,
    * applied to time series: at scale the day join is an ordinary
    * equi-join and the norms are a per-series aggregate — no
    * densification, no per-pair day scan. Values in exact kilocents
    * (cents div 1000) keep diff² sums inside int64 at any tested SF.
    */
  def tsSimilarity(spark: SparkSession, dir: String): DataFrame = {
    // Checkpoint measured NEGATIVE here (r19, +15% min-over-two vs
    // flat controls): all three consumers (norms, both self-join
    // sides) share the IDENTICAL daily-aggregate exchange, so runtime
    // ReuseExchange already computes it once — the materialization
    // plus a pinned broadcast only added overhead.
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts div 86400000000000L").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(expr("sum(cents) div 1000L").as("v"))
    val norms = daily.groupBy("event_type")
      .agg(sum(expr("v * v")).as("norm"), count(lit(1)).as("n_days"))
    val dots = daily.as("a")
      .join(daily.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(sum(expr("a.v * b.v")).as("dot"),
        count(lit(1)).as("shared_days"))
    dots
      .join(broadcast(norms.select(col("event_type").as("type_a"),
        col("norm").as("na"), col("n_days").as("days_a"))), Seq("type_a"))
      .join(broadcast(norms.select(col("event_type").as("type_b"),
        col("norm").as("nb"), col("n_days").as("days_b"))), Seq("type_b"))
      .selectExpr("type_a", "type_b", "shared_days", "days_a", "days_b",
        "na + nb - 2 * dot AS dist2")
  }

  /** RFM SEGMENTATION — the marketing-standard customer grid: each
    * customer scored 1–5 on Recency (days since last order, newer =
    * higher), Frequency (order count) and Monetary (total spend), each
    * score an exact global QUINTILE of that metric ((5·rank) div n on
    * the distributed exact rank — ntile over the customer universe
    * would serialize it through one task), reported as segment cells
    * with counts and per-cell averages. Unique orderings (metric,
    * custkey) make every score deterministic.
    *
    * Plan: one orders scan → customer-level aggregate; THREE
    * `withGlobalCumsums` rank passes over that post-aggregate table
    * (one per metric — different orderings cannot share a range
    * shuffle); the report aggregates ≤125 cells. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(max(datediff(col("o_orderdate"), to_date(lit("1992-01-01"))))
          .cast("long").as("last_day"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .as("monetary"))
      // Checkpointed HERE (r19 follow-up): the as-of row is an
      // aggregate OF perCust, so checkpointing only the post-crossJoin
      // projection (the first r19 shape) still re-ran the whole orders
      // aggregate once for asOf and once for the checkpoint fill.
      // |customers| rows, slim projection; every consumer (asOf, the
      // 1-row count, the three rank passes) now reads this one
      // materialization.
      .localCheckpoint()
    val asOf = perCust.agg(max("last_day").as("as_of"))
    // Second (tiny) checkpoint kept: without it the as-of broadcast
    // and the crossJoin projection re-run once per consumer (the 1-row
    // count + the first rank pass).
    val cust = perCust.crossJoin(asOf)
      .select(col("o_custkey"), (col("as_of") - col("last_day")).as("rec"),
        col("freq"), col("monetary"), lit(1L).as("one"))
      .localCheckpoint()
    val n = cust.agg(count(lit(1)).as("n_cust"))
    // Higher score = better: recency ranks ascending (small gap first),
    // frequency/monetary rank descending via negation.
    def scored(in: DataFrame, metric: String, asc: Boolean, out: String) = {
      val keyed = if (asc) in.withColumn("k", col(metric))
      else in.withColumn("k", -col(metric))
      Packing.withGlobalCumsums(keyed, Seq("one" -> "rb"),
          Seq("k", "o_custkey"))
        .crossJoin(n)
        .withColumn(out, expr("5 - CAST((5 * rb) div n_cust AS INT)"))
        .drop("k", "rb", "n_cust")
    }
    val s = scored(scored(scored(cust, "rec", asc = true, "r_score"),
      "freq", asc = false, "f_score"), "monetary", asc = false, "m_score")
    s.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(monetary) div count(1)").as("avg_monetary_cents"),
        expr("sum(freq) * 1000000 div count(1)").as("avg_freq_micro"))
  }

  /** SURVIVAL CURVE (retention's cross-cohort aggregate): the share of
    * users whose observed activity lifetime (last event − first event)
    * reaches at least k weeks, for every k up to the span — the
    * Kaplan-Meier shape without censoring (the synthetic window
    * observes everyone). One user aggregate; the curve inverts the
    * lifetime histogram with a suffix sum over ≤|weeks| post-aggregate
    * rows (bounded window), never a per-user-per-k fan-out.
    */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame = {
    val week = 7L * 86400000000000L
    val lifetimes = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(expr(s"(max(ts) - min(ts)) div ${week}L").as("life_weeks"))
      .groupBy("life_weeks").agg(count(lit(1)).as("n_at"))
    val tot = lifetimes.agg(sum("n_at").as("n_users"))
    val wSuffix = Window.orderBy(col("life_weeks").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lifetimes
      .withColumn("n_surviving", sum("n_at").over(wSuffix))
      .crossJoin(tot)
      .selectExpr("life_weeks AS k_weeks", "n_surviving",
        "n_surviving * 1000000 div n_users AS share_ppm")
  }

  /** Exact 2×2 CHI-SQUARE A/B test: purchase rate of the even-user
    * cohort vs the odd-user cohort, with the test statistic in the
    * closed 2×2 form χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) —
    * pure integer cross-multiplication (milli-units), so the
    * significance CALL is bit-reproducible where a float z-test would
    * wobble at the threshold. Cohort assignment is a pure key function
    * (user_id parity) — the deterministic traffic split an
    * experimentation platform uses. At true 10¹²-row scale the ad−bc
    * product leaves DECIMAL(38): run the test on per-day subtotals or
    * rescale counts to thousands (the call is scale-invariant).
    *
    * Plan: ONE conditional aggregate over the scan — four cells, one
    * row out; the statistic is a pure projection. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val dec = "CAST(%s AS DECIMAL(38,0))"
    Tables.events(spark, dir)
      .select((col("user_id") % 2 === 0).as("is_a"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("hit"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a"), col("hit")).otherwise(0L)).as("x_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("is_a"), col("hit")).otherwise(0L)).as("x_b"))
      .selectExpr("n_a", "x_a", "n_b", "x_b",
        "CAST(CAST(x_a AS DECIMAL(38,0)) * 1000000 div n_a AS BIGINT)" +
          " AS rate_a_ppm",
        "CAST(CAST(x_b AS DECIMAL(38,0)) * 1000000 div n_b AS BIGINT)" +
          " AS rate_b_ppm",
        // a=x_a, b=n_a-x_a, c=x_b, d=n_b-x_b; margins: n_a, n_b,
        // (x_a+x_b), (n_a+n_b-x_a-x_b)
        s"CAST(${dec.format("(n_a + n_b)")} * 1000" +
          s" * (${dec.format("x_a")} * (n_b - x_b)" +
          s"    - ${dec.format("x_b")} * (n_a - x_a))" +
          s" * (${dec.format("x_a")} * (n_b - x_b)" +
          s"    - ${dec.format("x_b")} * (n_a - x_a))" +
          s" div (${dec.format("n_a")} * n_b * (x_a + x_b)" +
          s"      * (n_a + n_b - x_a - x_b)) AS BIGINT) AS chi2_milli")
      .withColumn("significant", col("chi2_milli") > 3841L)
  }

  /** SAMPLE-RATIO-MISMATCH (SRM) check — the experimentation-platform
    * pre-test every A/B readout must pass before [[abTest]]'s result
    * means anything: does the realized unit allocation match the
    * designed 50/50 split? The 1-df goodness-of-fit χ² collapses to
    * (n_a − n_b)²/(n_a + n_b) exactly — integer milli-units, so the
    * SRM alarm is bit-reproducible. Units are DISTINCT users (the
    * randomization unit), not events — an event-level count would
    * confuse engagement imbalance with allocation imbalance.
    *
    * Plan: distinct-user aggregate (map-side partial) → one 2-cell
    * conditional aggregate → pure projection. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
      .selectExpr("n_a", "n_b",
        // DECIMAL(38) wrap: the squared count diff alone can clear
        // int64 at ~3e9 users; *1000 brings that to ~1e8.
        "CAST(CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000" +
          " div (n_a + n_b) AS BIGINT) AS chi2_milli")
      .withColumn("srm_detected", col("chi2_milli") > 3841L)

  /** BENFORD'S-LAW leading-digit audit of order totals — the classic
    * fabricated-data / fraud screen: observed share of each leading
    * digit 1–9 (of the integer cents) next to Benford's expected
    * share, deviation in ppm. The expected shares are FIXED integer
    * constants (⌊10⁶·log₁₀(1+1/d)⌋ precomputed once here, not
    * evaluated with libm at runtime), so the audit itself is exact and
    * hash-checkable; synthetic uniform prices deviate wildly — which
    * is precisely what the audit is for.
    *
    * Plan: one narrow projection (leading char of the cents string) →
    * 9-group map-side-combined aggregate → broadcast literal table. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L).toDF("digit", "benford_ppm")
    val counts = Tables.orders(spark, dir)
      .selectExpr("CAST(substring(CAST(CAST(round(o_totalprice * 100, 0)" +
        " AS BIGINT) AS STRING), 1, 1) AS INT) AS digit")
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("total"))
    counts.crossJoin(broadcast(tot))
      .join(broadcast(expected), Seq("digit"))
      .selectExpr("digit", "n",
        "n * 1000000 div total AS observed_ppm", "benford_ppm",
        "abs(n * 1000000 div total - benford_ppm) AS dev_ppm")
  }

  /** SPLIT-CONFORMAL prediction intervals (Vovk et al.; the
    * Lei et al. JASA'18 split form) for the monthly-revenue trend —
    * the distribution-free error bar every forecast report should
    * carry: fit OLS on the TRAIN months (even month index), take the
    * k = ⌈(n_cal+1)·0.9⌉-th smallest absolute residual on the
    * CALIBRATION months (odd index) as the 90% half-width, and flag
    * each month by whether it falls inside [ŷ−q, ŷ+q]. The split is a
    * pure function of the month index, so train/calibration membership
    * — normally a seeded shuffle — replays identically everywhere.
    *
    * Exactness: with d = n·Σx²−(Σx)² > 0, ŷ(x) clears to ONE rational
    * N(x)/d with N(x) = (Σy·Σx² − Σx·Σxy) + (n·Σxy − Σx·Σy)·x, so
    * residuals compare as |y·d − N(x)| against q_scaled (the k-th
    * order statistic of the SCALED residuals — same order, d is a
    * positive constant) with NO division anywhere in the coverage
    * decision; the reported ŷ/lo/hi are sign-split micro floor-divs.
    * Products live in DECIMAL(38): y·d ≈ 10²³ at 100 TB monthly sums.
    *
    * Plan/scale shape: one orders scan → |months| aggregate; the OLS
    * sums, the order statistic (TakeOrdered k over the ≤|months|/2
    * calibration residuals — never a global sort), and q are 1-row
    * broadcasts back onto the month table; output |months| rows. */
  def conformalInterval(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(((year(col("o_orderdate")) - 1992) * 12 +
        month(col("o_orderdate")) - 1).cast("long").as("mo"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("mo").agg(sum("cents").as("y"))
      .localCheckpoint()
    val fit = monthly.filter(col("mo") % 2 === 0)
      .select(col("mo").cast("decimal(38,0)").as("x"),
        col("y").cast("decimal(38,0)").as("yy"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("yy").as("sy"),
        sum(expr("x * yy")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .selectExpr("sy * sxx - sx * sxy AS a_num",
        "n * sxy - sx * sy AS b_num", "n * sxx - sx * sx AS d")
    val withPred = monthly.crossJoin(fit)
      .withColumn("n_x", expr("a_num + b_num * CAST(mo AS DECIMAL(38,0))"))
      .withColumn("res_scaled",
        expr("abs(CAST(y AS DECIMAL(38,0)) * d - n_x)"))
    val cal = withPred.filter(col("mo") % 2 === 1)
    val kTab = cal.agg(
      expr("CAST((count(1) + 1) * 9 + 9 AS BIGINT) div 10").as("k"),
      count(lit(1)).as("n_cal"))
    // k-th smallest scaled residual: TakeOrdered over the bounded
    // calibration table, never a global sort of raw data. The limit is
    // a plan bound, not a semantic one — if the calendar ever outgrows
    // it, rk === k would match nothing and the query would silently
    // return 0 rows, so the bound fails loudly instead (ADVICE r11).
    val qTab = cal.crossJoin(kTab)
      .filter(assert_true(col("n_cal") <= lit(1000),
        concat(lit("graft conformalInterval: "), col("n_cal"),
          lit(" calibration rows > plan bound 1000 — raise the" +
            " TakeOrdered limit with the calendar"))).isNull)
      .select(col("res_scaled"), col("k"))
      .orderBy("res_scaled").limit(1000) // >= any realistic |months|/2
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("res_scaled")))
      .filter(col("rk") === col("k"))
      .select(col("res_scaled").as("q_scaled"))
    withPred.crossJoin(qTab)
      .select(col("mo"), col("y"),
        (col("mo") % 2 === 1).as("is_cal"),
        expr("CAST(CASE WHEN n_x >= 0 THEN n_x * 1000000 div d" +
          " ELSE -((-n_x) * 1000000 div d) END AS BIGINT)")
          .as("yhat_micro"),
        expr("CAST(CASE WHEN n_x - q_scaled >= 0" +
          " THEN (n_x - q_scaled) * 1000000 div d" +
          " ELSE -((q_scaled - n_x) * 1000000 div d) END AS BIGINT)")
          .as("lo_micro"),
        expr("CAST(CASE WHEN n_x + q_scaled >= 0" +
          " THEN (n_x + q_scaled) * 1000000 div d" +
          " ELSE -((-(n_x + q_scaled)) * 1000000 div d) END AS BIGINT)")
          .as("hi_micro"),
        expr("CAST(CASE WHEN abs(CAST(y AS DECIMAL(38,0)) * d - n_x)" +
          " <= q_scaled THEN 1 ELSE 0 END AS BIGINT)").as("covered"))
  }

  /** MANN-WHITNEY U rank-sum test (Wilcoxon two-sample) between the
    * 1995 and 1996 order-price distributions — the nonparametric
    * sibling of [[ksDrift]] over the same split: where KS asks "is the
    * largest CDF gap big", U asks "does one year stochastically
    * dominate", and it is the drift test of choice when outliers make
    * mean-based tests lie. Everything is exact: ties are handled by
    * the half-unit trick (2·U1 = Σ_v c1(v)·(2·cb2(v) + c2(v)) over
    * value groups — midranks without any /2), the common-language
    * effect size P(X>Y)+½P(X=Y) is one ppm floor-div, and the
    * tie-corrected z² clears to a single rational
    * (2U1−n1n2)²·3n(n−1)·10³ div (n1n2·(n³−n−Σ(t³−t))) in
    * DECIMAL(38) (same documented ceiling + rescale mitigation as
    * q_ab_test's χ²: the squared numerator passes 38 digits around
    * n₁n₂ ≈ 10¹⁹ — rescale counts before squaring there).
    *
    * Plan/scale shape: identical to ksDrift — one (value, side) cell
    * aggregate, ONE `withGlobalCumsums` range pass over the post-agg
    * value table, 1-row broadcasts; output is a single row. */

  /** SHARED MIDRANK PRIMITIVE for the rank-test family
    * ([[mannWhitney]] / [[kruskalWallis]] / [[wilcoxonSigned]]; the
    * block-local [[friedman]] shares [[twoMidrank]]): given a
    * per-distinct-value cell table with multiplicity column `tCol`,
    * appends `cb` (count of strictly smaller values — ONE distributed
    * `withGlobalCumsums` range pass, never a single-partition window)
    * and `two_mr` = 2·midrank in half-units. Before round 12 each
    * test carried its own copy of the cumsum + tie formula, so a
    * tie-handling fix could drift between tests; now the identity
    * lives here once. */
  private[graft] def withTwoMidrank(cells: DataFrame, tCol: String,
      valueCols: Seq[String]): DataFrame =
    Packing.withGlobalCumsums(cells, Seq(tCol -> "cb"), valueCols)
      .withColumn("two_mr", twoMidrank(col("cb"), col(tCol)))

  /** 2·midrank in half-units: with `cb` values strictly below and `t`
    * tied values, midrank = cb + (t+1)/2, so 2·midrank = 2·cb + t + 1
    * — no /2 anywhere, everything downstream stays integer-exact. */
  private[graft] def twoMidrank(cb: org.apache.spark.sql.Column,
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(2L) * cb + t + lit(1L)

  /** Tie-correction cube term Σ(t³ − t) in DECIMAL(38,0) — the common
    * correction of the MW/KW/Wilcoxon variance denominators. */
  private[graft] def tieCubes(tCol: String): org.apache.spark.sql.Column =
    sum(expr(s"CAST($tCol AS DECIMAL(38,0)) * $tCol * $tCol - $tCol"))

  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        when(year(col("o_orderdate")) === 1995, 1).otherwise(2).as("side"))
      .groupBy("cents")
      .agg(count(when(col("side") === 1, 1)).as("c1"),
        count(when(col("side") === 2, 1)).as("c2"))
      .withColumn("t", col("c1") + col("c2"))
    // Shared midrank primitive; 2U₁ recovered from the COMBINED
    // midrank sum via 2U₁ = 2R₁ − n₁(n₁+1) (the within-side-1 rank
    // sum is n₁(n₁+1) identically), so the cross-side cumsum copy
    // this query used to carry is gone — value-identical, and the
    // tie formula now lives in ONE place for the whole family.
    val cum = withTwoMidrank(g, "t", Seq("cents"))
    // Fused 1-row aggregate over the cumsum output (r19, same move as
    // wilcoxonSigned): totals computed from cum's rows instead of a
    // separate `g.agg(...)` branch, which re-ran the whole scan +
    // cell-aggregate subtree and needed a crossJoin back.
    cum.agg(
      sum(expr("CAST(c1 AS DECIMAL(38,0)) * two_mr")).as("two_r1"),
      sum("c1").as("n1"), sum("c2").as("n2"), tieCubes("t").as("ties"))
      .withColumn("u1_x2",
        expr("two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)"))
      .selectExpr("CAST(u1_x2 AS BIGINT) AS u1_x2", "n1", "n2",
        "CAST(u1_x2 * 1000000 div (2 * CAST(n1 AS DECIMAL(38,0)) * n2)" +
          " AS BIGINT) AS cles_ppm",
        "CAST(CASE WHEN (CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2)" +
          " * (n1 + n2) - (n1 + n2)) - ties = 0 THEN 0 ELSE" +
          " (u1_x2 - CAST(n1 AS DECIMAL(38,0)) * n2)" +
          " * (u1_x2 - CAST(n1 AS DECIMAL(38,0)) * n2)" +
          " * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000" +
          " div (CAST(n1 AS DECIMAL(38,0)) * n2 *" +
          " ((CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2) * (n1 + n2)" +
          " - (n1 + n2)) - ties)) END AS BIGINT) AS z2_milli")
  }

  /** THEIL-SEN robust trend slope of monthly revenue — the
    * median-of-pairwise-slopes estimator (breakdown point 29%) next to
    * the OLS slope a single outlier month can drag arbitrarily. The
    * sort key is the exact floored micro-slope (sign-split integer
    * div), with (month_i, month_j) tiebreaks, so the median ELEMENT is
    * engine-deterministic; the report compares it against the
    * all-months OLS slope in the same micro units.
    *
    * Plan/scale shape: the quadratic lives entirely on the
    * POST-AGGREGATE month table — |months| is calendar-bounded (~84),
    * so the ⌈n(n−1)/2⌉ ≈ 3.5k pair join and its rank window are
    * constant-size tail work at ANY corpus scale (the changepoint/
    * freq-of-freqs bounded-quadratic discipline); the corpus pays one
    * scan + one |months| aggregate. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(((year(col("o_orderdate")) - 1992) * 12 +
        month(col("o_orderdate")) - 1).cast("long").as("mo"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("mo").agg(sum("cents").as("y"))
      .localCheckpoint()
    val pairs = monthly.select(col("mo").as("mi"), col("y").as("yi"))
      .join(monthly.select(col("mo").as("mj"), col("y").as("yj")),
        col("mi") < col("mj"))
      .select(col("mi"), col("mj"),
        expr("CAST(CASE WHEN yj >= yi" +
          " THEN CAST(yj - yi AS DECIMAL(38,0)) * 1000000 div (mj - mi)" +
          " ELSE -(CAST(yi - yj AS DECIMAL(38,0)) * 1000000 div (mj - mi))" +
          " END AS BIGINT)").as("slope_micro"))
    val pTab = pairs.agg(count(lit(1)).as("n_pairs"))
    val ols = monthly
      .select(col("mo").cast("decimal(38,0)").as("x"),
        col("y").cast("decimal(38,0)").as("yy"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"), sum("x").as("sx"),
        sum("yy").as("sy"), sum(expr("x * yy")).as("sxy"),
        sum(expr("x * x")).as("sxx"))
      .selectExpr("CAST(n AS BIGINT) AS n_months",
        "CAST(CASE WHEN n * sxy - sx * sy >= 0" +
          " THEN (n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)" +
          " ELSE -((sx * sy - n * sxy) * 1000000 div (n * sxx - sx * sx))" +
          " END AS BIGINT) AS ols_micro")
    // TakeOrdered bound before the rank: |pairs| ≤ 3.5k forever, but
    // the checkpoint makes the month table a leaf, so the explicit
    // limit is what keeps the unpartitioned rank provably bounded
    // (same pattern as conformalInterval's order statistic).
    pairs.orderBy(col("slope_micro"), col("mi"), col("mj")).limit(10000)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("slope_micro"), col("mi"), col("mj"))))
      .crossJoin(pTab)
      // Loud bound (ADVICE r11): if |pairs| ever exceeded the plan
      // bound, the median rank could point past the truncated set and
      // the statistic would be silently wrong — fail instead.
      .filter(assert_true(col("n_pairs") <= lit(10000),
        concat(lit("graft theilSen: "), col("n_pairs"),
          lit(" slope pairs > plan bound 10000 — raise the TakeOrdered" +
            " limit with the calendar"))).isNull)
      .filter(col("rk") === expr("(n_pairs + 1) div 2"))
      .crossJoin(ols)
      .select(col("n_months"), col("n_pairs"),
        col("slope_micro").as("theil_sen_micro"), col("ols_micro"))
  }

  /** KRUSKAL-WALLIS H test across the five order priorities — the
    * k-group generalization of [[mannWhitney]] (one-way ANOVA on
    * midranks): does ANY priority's price distribution sit
    * systematically above the others. Midranks in half-units
    * (2·midrank(v) = 2·cb(v) + t(v) + 1 — no /2 anywhere), per-group
    * rank sums 2R_j exact; H assembles from per-group floor-divs in
    * milli (each a pure function of (2R_j, n_j, n), so the floored
    * integer terms sum exactly and order-independently) plus one
    * tie-correction rational ((n³−n)/((n³−n)−T)) — per-term floors,
    * like bigramSurprisal's per-occurrence floors, replay identically
    * in both engines, which is the discipline (the alternative single
    * exact rational needs Πn_j ≈ 10⁵⁵ at 100 TB).
    *
    * Report: one row per priority (n_j, 2R_j, mean midrank in milli)
    * with the corrected H broadcast onto each — the rank table IS the
    * diagnosis (which group drags), H the gate.
    *
    * Plan/scale shape: one (value, priority) cell aggregate; the value
    * totals + ONE withGlobalCumsums range pass live on the post-agg
    * value table; cells join back value-keyed (post-agg sizes); then a
    * |priorities|-row aggregate and 1-row broadcasts. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        col("o_orderpriority").as("priority"))
      .groupBy("cents", "priority").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // The midrank table feeds BOTH the per-group join and the 1-row
    // total, and the |priorities|-row group table feeds BOTH the H
    // assembly and the report (r19): un-materialized, each reuse
    // re-ran the range-shuffle midrank pass / the value-keyed join —
    // the committed plan carried 11 Exchanges for what is one rank
    // pass + one join. Both checkpoints are post-aggregate tables
    // (|distinct values| — price-domain-bounded — and |priorities|).
    val vals = withTwoMidrank(
      cells.groupBy("cents").agg(sum("c").as("t")),
      "t", Seq("cents"))
      .localCheckpoint()
    val grp = cells.join(vals, "cents")
      .groupBy("priority")
      .agg(sum("c").as("n_j"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * two_mr")).as("two_r"))
      .localCheckpoint()
    val tot = vals.agg(sum("t").as("n"), tieCubes("t").as("ties"))
    val h = grp.crossJoin(tot)
      .select(expr("CAST(two_r * two_r * 3000" +
        " div (CAST(n AS DECIMAL(38,0)) * (n + 1) * n_j) AS DECIMAL(38,0))")
        .as("term"), col("n"), col("ties"))
      .groupBy("n", "ties").agg(sum("term").as("terms"))
      .select(expr("CAST((terms - 3000 * (CAST(n AS DECIMAL(38,0)) + 1))" +
        " * (CAST(n AS DECIMAL(38,0)) * n * n - n)" +
        " div ((CAST(n AS DECIMAL(38,0)) * n * n - n) - ties)" +
        " AS BIGINT)").as("h_milli"))
    grp.crossJoin(broadcast(h))
      .select(col("priority"), col("n_j"),
        col("two_r").cast("long").as("two_r"),
        expr("CAST(two_r * 1000 div (2 * CAST(n_j AS DECIMAL(38,0)))" +
          " AS BIGINT)").as("mean_rank_milli"),
        col("h_milli"))
  }

  /** WILCOXON SIGNED-RANK test on PAIRED samples — per-part revenue in
    * 1995 vs 1996 (ship-date years): did individual parts' revenue
    * shift, pairing each part with itself across the years. Completes
    * the nonparametric drift family: [[mannWhitney]] (two independent
    * samples), [[kruskalWallis]] (k groups), and now the paired face,
    * which is the right test when the unit (the part) is its own
    * control. Standard zero-handling: d = 0 pairs are dropped.
    *
    * Everything integer-exact: |d| midranks via the half-unit trick
    * (2·W⁺ = Σ_v pos(v)·(2·cb(v) + t(v) + 1) over |d| value groups —
    * no /2 anywhere); rank-biserial effect size r = (4W⁺ − n(n+1)) /
    * (n(n+1)) as one sign-split ppm floor-div; tie-corrected z²
    * cleared to the single rational 3000·(4W⁺ − n(n+1))² div
    * (2n(n+1)(2n+1) − Σ(t³−t)) in DECIMAL(38) (numerator ≈ 6·10³⁶ at
    * n ≈ 2·10⁸ parts — documented ceiling; rescale by dropping to
    * centi-z² if the pair universe ever exceeds ~3·10⁸).
    *
    * Plan/scale shape: ONE (part) conditional aggregate over the fact
    * scan → |d|-value cell aggregate → ONE `withGlobalCumsums` range
    * pass over the post-agg |d| table → 1-row broadcasts; single row
    * out. */
  def wilcoxonSigned(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")).isin(1995, 1996))
      .select(col("l_partkey").as("p"),
        year(col("l_shipdate")).as("yr"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("p")
      .agg(sum(when(col("yr") === 1995, col("cents"))).as("y95"),
        sum(when(col("yr") === 1996, col("cents"))).as("y96"))
      .filter(col("y95").isNotNull && col("y96").isNotNull &&
        col("y95") =!= col("y96"))
      .select(abs(col("y96") - col("y95")).as("abs_d"),
        (col("y96") > col("y95")).as("is_pos"))
    val g = pairs.groupBy("abs_d")
      .agg(count(lit(1)).as("t"),
        count(when(col("is_pos"), 1)).as("pos"))
    val cum = withTwoMidrank(g, "t", Seq("abs_d"))
    // ONE fused 1-row aggregate over the cumsum output (r19): the
    // totals are sums over the SAME rows (the midrank pass is 1:1 with
    // the cell table), so computing them here — instead of the old
    // `g.agg(...)` branch — removes a SECOND full execution of the
    // scan → part aggregate → |d|-cell aggregate subtree (cum's input
    // is checkpointed inside withGlobalCumsums; g's branch was not)
    // plus the crossJoin that stitched the two 1-row tables back up.
    cum.agg(
      sum(expr("CAST(pos AS DECIMAL(38,0)) * two_mr")).as("two_w_plus"),
      sum("t").as("n"), sum("pos").as("n_pos"), tieCubes("t").as("ties"))
      .selectExpr("n", "n_pos", "CAST(two_w_plus AS BIGINT) AS two_w_plus",
        "CAST(CASE WHEN 2 * two_w_plus - CAST(n AS DECIMAL(38,0)) * (n + 1)" +
          " >= 0 THEN (2 * two_w_plus - CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          " * 1000000 div (CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          " ELSE -((CAST(n AS DECIMAL(38,0)) * (n + 1) - 2 * two_w_plus)" +
          " * 1000000 div (CAST(n AS DECIMAL(38,0)) * (n + 1))) END" +
          " AS BIGINT) AS rank_biserial_ppm",
        "CAST(CASE WHEN 2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1)" +
          " - ties = 0 THEN 0 ELSE" +
          " (2 * two_w_plus - CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          " * (2 * two_w_plus - CAST(n AS DECIMAL(38,0)) * (n + 1))" +
          " * 3000 div (2 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (2 * n + 1)" +
          " - ties) END AS BIGINT) AS z2_milli")
  }

  /** FRIEDMAN test — k related samples over repeated blocks: do the
    * five order priorities keep the same revenue ORDERING month after
    * month, with each month ranking only its own five cells (so
    * seasonality and corpus growth cancel by construction — the
    * blocked design [[kruskalWallis]] cannot express). Midranks via
    * 2·mr = 2·rank + cnt_eq − 1 (half-units, no /2), both windows
    * bounded by the block size k; tie-corrected statistic cleared to
    * one rational Q_milli = 1000·(k−1)·Σ_j(S_j − n(k+1))² div
    * (A2 − n·k·(k+1)²) with S_j = Σ 2·mr and A2 = Σ(2·mr)² — all
    * pure integers, so the gate replays digit-for-digit.
    *
    * Only COMPLETE blocks enter (months with all k priorities
    * present), the standard Friedman requirement.
    *
    * Plan/scale shape: one (month, priority) map-side-combined
    * aggregate over the scan; every window is partitioned by month
    * (≤ k rows per partition); the report is the k-row per-priority
    * rank-sum table with Q broadcast — post-aggregate sizes at any
    * corpus scale. */
  /** Complete-block midranks shared by [[friedman]] and [[pageTrend]]:
    * (mo, priority, k, two_r) for months holding all k priorities,
    * each month ranking only its own k cells. The half-unit identity
    * is the block-local face of [[twoMidrank]]: cb = rnk − 1
    * strictly-below, t = cnt_eq tied, so 2·midrank = 2·rnk + cnt_eq
    * − 1; both windows are bounded by the block size k. */
  private def blockRanks(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .select(((year(col("o_orderdate")) - 1992) * 12 +
        month(col("o_orderdate")) - 1).cast("long").as("mo"),
        col("o_orderpriority").as("priority"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("mo", "priority").agg(sum("cents").as("y"))
      .localCheckpoint()
    val k = cells.agg(countDistinct("priority").as("k"))
    cells
      .withColumn("n_in_block", count(lit(1)).over(Window.partitionBy("mo")))
      .crossJoin(k)
      .filter(col("n_in_block") === col("k"))
      .withColumn("rnk", rank().over(
        Window.partitionBy("mo").orderBy("y")))
      .withColumn("cnt_eq", count(lit(1)).over(
        Window.partitionBy("mo", "y")))
      .select(col("mo"), col("priority"), col("k"),
        twoMidrank(col("rnk") - 1, col("cnt_eq")).as("two_r"))
  }

  def friedman(spark: SparkSession, dir: String): DataFrame = {
    val ranked = blockRanks(spark, dir)
    val grp = ranked.groupBy("priority", "k")
      .agg(count(lit(1)).as("n_blocks"),
        sum("two_r").as("s_j"),
        sum(expr("CAST(two_r AS DECIMAL(38,0)) * two_r")).as("a2_j"))
    val q = grp
      .select(col("k"), col("n_blocks"), col("a2_j"),
        expr("(CAST(s_j AS DECIMAL(38,0)) - CAST(n_blocks AS DECIMAL(38,0))" +
          " * (k + 1)) * (CAST(s_j AS DECIMAL(38,0))" +
          " - CAST(n_blocks AS DECIMAL(38,0)) * (k + 1))").as("dev2"))
      .groupBy("k", "n_blocks")
      .agg(sum("dev2").as("num"), sum("a2_j").as("a2"))
      .select(expr("CAST(CASE WHEN a2 - CAST(n_blocks AS DECIMAL(38,0))" +
        " * k * (k + 1) * (k + 1) = 0 THEN 0 ELSE" +
        " 1000 * (k - 1) * num div (a2 - CAST(n_blocks AS DECIMAL(38,0))" +
        " * k * (k + 1) * (k + 1)) END AS BIGINT)").as("q_milli"))
    grp.crossJoin(broadcast(q))
      .select(col("priority"), col("n_blocks"),
        col("s_j").cast("long").as("two_r_sum"),
        expr("CAST(CAST(s_j AS DECIMAL(38,0)) * 1000" +
          " div (2 * CAST(n_blocks AS DECIMAL(38,0))) AS BIGINT)")
          .as("mean_rank_milli"),
        col("q_milli"))
  }

  /** PAGE'S TREND TEST (Page 1963) — ordered alternatives in the
    * [[friedman]] blocked design: not "do the priorities differ"
    * (Friedman's question) but "do they fall in the HYPOTHESIZED
    * order" — here the priority labels' own 1-URGENT … 5-LOW order —
    * which has far more power when a monotone trend is what you
    * expect. Built ON the shared block-rank primitive ([[blockRanks]]
    * / [[twoMidrank]]): 2L = Σ_j j·(2R_j) exact; E and the classical
    * tie-free variance clear to one rational
    * z²_milli = 36000·(2L − 2E)² div (n·k²(k+1)²(k−1)) with
    * 2E = n·k(k+1)²/2 (k = 5 ⇒ integer) — intra-block ties in
    * cents-valued monthly revenue are measure-zero, and the midranks
    * still handle them exactly if they occur.
    *
    * Plan/scale shape: identical to friedman — one map-side-combined
    * (month, priority) aggregate, k-bounded block windows, k-row
    * report with the trend statistic broadcast. */
  def pageTrend(spark: SparkSession, dir: String): DataFrame = {
    val grp = blockRanks(spark, dir).groupBy("priority", "k")
      .agg(count(lit(1)).as("n_blocks"), sum("two_r").as("s_j"))
      .withColumn("j", expr("CAST(substr(priority, 1, 1) AS BIGINT)"))
    val l = grp.groupBy("k", "n_blocks")
      .agg(sum(expr("CAST(j AS DECIMAL(38,0)) * s_j")).as("two_l"))
      .select(col("k"), col("n_blocks"), col("two_l"),
        expr("CAST(n_blocks AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)" +
          " div 2").as("two_e_l"))
      .select(expr("CAST(two_l AS BIGINT)").as("two_l"),
        expr("CAST(two_e_l AS BIGINT)").as("two_e_l"),
        expr("CAST(CASE WHEN n_blocks = 0 OR k <= 1 THEN 0 ELSE" +
          " 36000 * (CAST(two_l AS DECIMAL(38,0)) - two_e_l)" +
          " * (CAST(two_l AS DECIMAL(38,0)) - two_e_l)" +
          " div (CAST(n_blocks AS DECIMAL(38,0)) * k * k * (k + 1)" +
          " * (k + 1) * (k - 1)) END AS BIGINT)").as("z2_milli"))
    grp.crossJoin(broadcast(l))
      .select(col("priority"), col("j"),
        col("n_blocks").cast("long").as("n_blocks"),
        col("s_j").cast("long").as("two_r_sum"),
        col("two_l"), col("two_e_l"), col("z2_milli"))
  }

  /** ONE-WAY ANOVA F across the five order priorities — the
    * parametric sibling of [[kruskalWallis]] over the same design
    * (means instead of midranks; KW survives outliers, F names the
    * variance decomposition). Everything is exact integers with the
    * sum-of-squares terms in KILO-cents² (divisor 10⁶ INSIDE each
    * floor — F is invariant to the common scale, and raw cents²
    * terms would pass the BIGINT `div` result at sf0.1):
    * SSB = Σ_j ⌊S_j²/(n_j·10⁶)⌋ − ⌊S²/(n·10⁶)⌋,
    * SSW = ⌊Q/10⁶⌋ − Σ_j ⌊S_j²/(n_j·10⁶)⌋ — per-group floors, each a
    * pure function of its group's (S_j, n_j), so the sum is
    * merge-order-independent (the kruskalWallis per-term discipline);
    * F in milli as one guarded floor-div, in range to n ≈ 10⁹ rows.
    *
    * Plan/scale shape: ONE map-side-combined aggregate over the fact
    * scan → k-row group table → 1-row broadcast; k-row report. */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("priority")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_j"),
        sum(col("cents").cast("decimal(38,0)")).as("s_j"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("q_j"))
    // Sum-of-squares terms in KILO-cents² (divisor 10⁶, documented):
    // Spark's `div` result is BIGINT, and raw cents² terms
    // (S_j²/n_j ≈ 10¹⁹ at sf0.1) pass int64 — dividing INSIDE each
    // per-group floor keeps every term and the report columns in
    // range to n ≈ 10⁹ rows, and F is invariant to the common scale.
    val tot = g.agg(sum("n_j").as("n"), sum("s_j").as("s"),
      sum("q_j").as("q"), count(lit(1)).cast("decimal(38,0)").as("k"),
      sum(expr("CAST(s_j * s_j div (n_j * 1000000) AS DECIMAL(38,0))"))
        .as("sb"))
      .select(col("n"), col("k"),
        expr("sb - s * s div (n * 1000000)").as("ssb"),
        expr("q div 1000000 - sb").as("ssw"))
      .select(expr("CAST(n AS BIGINT)").as("n"),
        expr("CAST(k AS BIGINT)").as("k"),
        expr("CAST(ssb AS BIGINT)").as("ssb_kc2"),
        expr("CAST(ssw AS BIGINT)").as("ssw_kc2"),
        expr("CAST(CASE WHEN ssw <= 0 OR k <= 1 OR n <= k THEN 0 ELSE" +
          " ssb * (n - k) * 1000 div (ssw * (k - 1)) END AS BIGINT)")
          .as("f_milli"))
    g.crossJoin(tot)
      .select(col("priority"),
        expr("CAST(n_j AS BIGINT)").as("n_j"),
        expr("CAST(s_j * 1000 div n_j AS BIGINT)").as("mean_cents_milli"),
        col("ssb_kc2"), col("ssw_kc2"), col("f_milli"))
  }

  /** WELCH'S T² between the 1995 and 1996 order-price distributions —
    * the unequal-variance parametric face of [[mannWhitney]] over the
    * SAME split (no pooled-variance assumption, the default two-sample
    * test modern practice recommends). Exact integer chain in cents:
    * per-side (n, S, Q) from one conditional aggregate; sample
    * variances v_i = ⌊(n_i·Q_i − S_i²)/(n_i(n_i−1))⌋, standard-error
    * terms a_i = ⌊v_i/n_i⌋, mean gap as one sign-split milli-cents
    * floor-div, t²_milli = d_milli² div (1000·(a₁+a₂)), and the
    * Welch–Satterthwaite ratio on KILO-rescaled terms
    * ā_i = ⌊a_i/1000⌋ (df is scale-invariant; the raw per-term floor
    * ā² div (n−1) would pass int64 at small n): df_milli =
    * (ā₁+ā₂)²·1000 div (⌊ā₁²/(n₁−1)⌋ + ⌊ā₂²/(n₂−1)⌋) — per-term
    * floors throughout, so both engines replay the identical digits.
    *
    * Plan/scale shape: one conditional aggregate over the fact scan →
    * single broadcast row; one row out. */
  def welchT(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(when(year(col("o_orderdate")) === 1995, 1).otherwise(2)
        .as("side"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy()
      .agg(
        count(when(col("side") === 1, 1)).cast("decimal(38,0)").as("n1"),
        count(when(col("side") === 2, 1)).cast("decimal(38,0)").as("n2"),
        sum(when(col("side") === 1, col("cents")).otherwise(0L)
          .cast("decimal(38,0)")).as("s1"),
        sum(when(col("side") === 2, col("cents")).otherwise(0L)
          .cast("decimal(38,0)")).as("s2"),
        sum(when(col("side") === 1,
          expr("CAST(cents AS DECIMAL(38,0)) * cents")).otherwise(
          lit(0).cast("decimal(38,0)"))).as("q1"),
        sum(when(col("side") === 2,
          expr("CAST(cents AS DECIMAL(38,0)) * cents")).otherwise(
          lit(0).cast("decimal(38,0)"))).as("q2"))
      .select(col("n1"), col("n2"), col("s1"), col("s2"),
        expr("(n1 * q1 - s1 * s1) div (n1 * (n1 - 1))").as("v1"),
        expr("(n2 * q2 - s2 * s2) div (n2 * (n2 - 1))").as("v2"))
      .select(col("n1"), col("n2"), col("v1"), col("v2"),
        expr("CASE WHEN s1 * n2 - s2 * n1 >= 0" +
          " THEN (s1 * n2 - s2 * n1) * 1000 div (n1 * n2)" +
          " ELSE -((s2 * n1 - s1 * n2) * 1000 div (n1 * n2)) END")
          .as("d_milli"),
        expr("v1 div n1 + v2 div n2").as("se2"),
        // df terms in KILO-cents² (documented rescale): the raw
        // per-term floor a² div (n−1) can exceed int64 at SMALL n
        // (a = v/n grows as n shrinks; Spark's `div` result is
        // BIGINT), while df itself is scale-invariant — so the
        // Satterthwaite ratio is computed on ⌊a/1000⌋ terms, exact
        // floors both engines replay, ≥6 significant digits at any SF.
        expr("v1 div n1 div 1000").as("ak"),
        expr("v2 div n2 div 1000").as("bk"))
      .select(
        expr("CAST(n1 AS BIGINT)").as("n1"),
        expr("CAST(n2 AS BIGINT)").as("n2"),
        expr("CAST(v1 AS BIGINT)").as("var1_cents2"),
        expr("CAST(v2 AS BIGINT)").as("var2_cents2"),
        expr("CAST(d_milli AS BIGINT)").as("mean_diff_milli"),
        expr("CAST(CASE WHEN se2 <= 0 THEN 0 ELSE" +
          " CAST(d_milli AS DECIMAL(38,0)) * d_milli div (1000 * se2)" +
          " END AS BIGINT)").as("t2_milli"),
        expr("CAST(CASE WHEN CAST(ak AS DECIMAL(38,0)) * ak div (n1 - 1)" +
          " + CAST(bk AS DECIMAL(38,0)) * bk div (n2 - 1) <= 0 THEN 0 ELSE" +
          " CAST(ak + bk AS DECIMAL(38,0)) * (ak + bk) * 1000" +
          " div (CAST(ak AS DECIMAL(38,0)) * ak div (n1 - 1)" +
          " + CAST(bk AS DECIMAL(38,0)) * bk div (n2 - 1)) END AS BIGINT)")
          .as("df_milli"))

  /** Closed-form DELETE-ONE JACKKNIFE for the ratio estimator
    * R = Σ revenue / Σ orders over customers (average order value,
    * customer-weighted) — the estimator-variance question ("how
    * trustworthy is this ratio") answered WITHOUT resampling: each
    * leave-one-out replicate is the pure function
    * m_i = (Sx − x_i)·1000 div (Sy − y_i) of the broadcast totals, so
    * the full jackknife costs one extra projection + one aggregate
    * instead of n re-computations (the identity [[bootstrapMeans]]
    * cannot use — the bootstrap resamples, the jackknife deletes).
    *
    * All milli-exact: Var_jk = (n−1)/n·Σ(m_i − m̄)² assembled as the
    * two-step floor ((n·Sm2 − Sm²) div n)·(n−1) div n (each factor
    * < 10³³ at 10⁸ customers — a single-rational form would pass
    * DECIMAL(38) at n ≈ 10⁸, which is WHY the floor is split; both
    * steps are deterministic so the oracle replays them); bias_jk =
    * (n−1)(m̄ − R) as one sign-split milli floor-div.
    *
    * Plan/scale shape: one per-customer map-side-combined aggregate →
    * 1-row broadcast totals → replicate projection → one final
    * aggregate; single row out. */
  def jackknife(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("c")
      .agg(sum("cents").as("x"), count(lit(1)).as("y"))
    val tot = per.agg(sum("x").as("sx"), sum("y").as("sy"),
      count(lit(1)).as("n"))
    val reps = per.crossJoin(tot)
      .select(col("n"), col("sx"), col("sy"),
        expr("CAST((CAST(sx AS DECIMAL(38,0)) - x) * 1000 div (sy - y)" +
          " AS DECIMAL(38,0))").as("m"))
    reps.groupBy("n", "sx", "sy")
      .agg(sum("m").as("sm"), sum(expr("m * m")).as("sm2"))
      .selectExpr("n",
        "CAST(CAST(sx AS DECIMAL(38,0)) * 1000 div sy AS BIGINT) AS r_milli",
        "CAST(sm div n AS BIGINT) AS mean_loo_milli",
        "CAST(CAST((CAST(n AS DECIMAL(38,0)) * sm2 - sm * sm) div n" +
          " AS DECIMAL(38,0)) * (n - 1) div n AS BIGINT) AS jk_var_milli2",
        "CAST(CASE WHEN sm - CAST(n AS DECIMAL(38,0))" +
          " * (CAST(sx AS DECIMAL(38,0)) * 1000 div sy) >= 0 THEN" +
          " (n - 1) * (sm - CAST(n AS DECIMAL(38,0))" +
          " * (CAST(sx AS DECIMAL(38,0)) * 1000 div sy)) div n" +
          " ELSE -((n - 1) * (CAST(n AS DECIMAL(38,0))" +
          " * (CAST(sx AS DECIMAL(38,0)) * 1000 div sy) - sm) div n)" +
          " END AS BIGINT) AS jk_bias_milli")
  }

  /** QUANTITY-WEIGHTED MEDIAN price per return flag — the "typical
    * shipped dollar" rather than the typical line item: a 50-unit line
    * weighs 50× in the median, which is the right statistic whenever
    * rows are containers of unequal mass (the same reason revenue
    * deciles weight by spend). Exact and division-free: the median is
    * the smallest cents value with 2·cumweight ≥ total (the
    * [[conformalInterval]] no-division discipline).
    *
    * Plan/scale shape: one (flag, cents) map-side-combined cell
    * aggregate; the cumulative window is partitioned by mode and runs
    * over the POST-AGG cell table whose size is capped by the price
    * DOMAIN (≈10⁷ distinct cents — fixed by the price schema), not
    * the corpus, so the window input is corpus-scale-free; |modes|
    * rows out. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("mode"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("mode", "cents").agg(sum("qty").as("w"))
    // Examined r19 round 2 and left alone: the `tw` whole-partition
    // window RIDES the `cw` window's exchange+sort (same partitioning,
    // no extra shuffle), so replacing it with a |modes|-row aggregate +
    // broadcast join — tried, A/B'd — only added a checkpoint and a
    // shuffle (+8%). Reverted.
    val cum = cells
      .withColumn("cw", sum("w").over(Window.partitionBy("mode")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum("w").over(Window.partitionBy("mode")))
    cum.filter(col("cw") * 2 >= col("tw"))
      .groupBy("mode")
      .agg(min("cents").as("wmedian_cents"), min("tw").as("total_qty"))
  }

  /** WALD–WOLFOWITZ RUNS TEST on daily order volume — is the
    * above/below-median day sequence RANDOM, or does it clump
    * (momentum/regimes) or alternate (over-dispersion)?  The
    * randomness face completing the nonparametric suite: KS/MW ask
    * about level drift, this asks about ORDER. Days equal to the
    * median drop (standard dichotomization); the median is the exact
    * k-th order statistic (k = ⌈n/2⌉) over the bounded day table via
    * the conformalInterval TakeOrdered pattern; runs count via one
    * lag window; z² clears to the single rational
    * (Rn − n − 2n₁n₂)²(n−1)·1000 div (2n₁n₂(2n₁n₂ − n)). The day
    * table is CALENDAR-bounded (~2.4k rows at any corpus scale), so
    * the unpartitioned lag window is post-aggregate constant-size
    * work and every product fits int64 with room — DECIMAL(38) wraps
    * kept anyway for the house discipline.
    *
    * Plan/scale shape: one scan → |days| aggregate (checkpointed) →
    * bounded TakeOrdered median → bounded lag window → 1-row out. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(datediff(to_date(col("o_orderdate")),
        lit("1992-01-01").cast("date")).cast("long").as("d"))
      .groupBy("d").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val kTab = daily.agg(
      expr("CAST((count(1) + 1) div 2 AS BIGINT)").as("k"),
      count(lit(1)).as("n_days"))
    // Loud bound (ADVICE r11): |days| past the plan bound would drop
    // rows from the median pick AND the runs count below — one guard
    // here covers both stages (same day table feeds each).
    val med = daily.crossJoin(broadcast(kTab))
      .filter(assert_true(col("n_days") <= lit(10000),
        concat(lit("graft runsTest: "), col("n_days"),
          lit(" day rows > plan bound 10000 — raise the TakeOrdered" +
            " limit with the calendar"))).isNull)
      .orderBy("cnt", "d").limit(10000)
      .withColumn("rk", row_number().over(Window.orderBy("cnt", "d")))
      .filter(col("rk") === col("k"))
      .select(col("cnt").as("med"))
    val w = Window.orderBy("d")
    // Explicit bound before the unpartitioned lag: the checkpoint makes
    // the day table a leaf the plan guard cannot see through, so the
    // limit is what keeps the window provably bounded (theilSen's
    // TakeOrdered discipline; |days| ≤ 2.4k forever).
    daily.crossJoin(broadcast(med))
      .filter(col("cnt") =!= col("med"))
      .withColumn("above", (col("cnt") > col("med")).cast("long"))
      .orderBy("d").limit(10000)
      .withColumn("chg", when(lag("above", 1).over(w).isNull ||
        lag("above", 1).over(w) =!= col("above"), 1L).otherwise(0L))
      .agg(count(lit(1)).as("n"), sum("above").as("n1"),
        sum("chg").as("runs"))
      .selectExpr("n", "n1", "n - n1 AS n2", "runs",
        "CAST(CASE WHEN 2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1) - n <= 0" +
          " THEN 0 ELSE" +
          " (CAST(runs AS DECIMAL(38,0)) * n - n" +
          "  - 2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1))" +
          " * (CAST(runs AS DECIMAL(38,0)) * n - n" +
          "  - 2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1))" +
          " * (n - 1) * 1000" +
          " div ((2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1))" +
          " * (2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1) - n))" +
          " END AS BIGINT) AS z2_milli")
  }

  /** ROLLING-ORIGIN FORECAST BACKTEST — the eval harness around
    * [[trendSlope]]-style OLS forecasting: for each of the last 12
    * months, fit OLS on STRICTLY EARLIER months only and score the
    * one-step-ahead prediction — the walk-forward protocol that is the
    * only honest accuracy estimate for a time series (a single
    * train/test split leaks trend; in-sample fit is not forecast
    * skill). Engine-exact: per-cutoff OLS sums are PREFIX windows over
    * the calendar-bounded month table (n, Σx, Σy, Σxy, Σxx with rows
    * preceding the cutoff), so all 12 fits cost ONE window pass, and
    * ŷ/err are sign-split CENTS floor-divs (a micro scale
    * would pass int64 at 100 TB monthly revenue).
    *
    * Plan/scale shape: one scan → |months| aggregate → bounded
    * TakeOrdered + prefix windows on the post-agg series → 12 rows. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(((year(col("o_orderdate")) - 1992) * 12 +
        month(col("o_orderdate")) - 1).cast("long").as("mo"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("mo").agg(sum("cents").as("y"))
    val w = Window.orderBy("mo")
      .rowsBetween(Window.unboundedPreceding, -1)
    val maxMo = monthly.agg(max("mo").as("max_mo"),
      count(lit(1)).as("n_mo"))
    monthly.crossJoin(maxMo)
      // Loud bound (ADVICE r11 pattern): truncation would silently
      // corrupt the prefix sums every fit reads — fail instead.
      .filter(assert_true(col("n_mo") <= lit(10000),
        concat(lit("graft forecastBacktest: "), col("n_mo"),
          lit(" month rows > plan bound 10000 — raise the limit with" +
            " the calendar"))).isNull)
      .orderBy("mo").limit(10000) // calendar-bounded; plan-guard bound
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("mo").cast("decimal(38,0)")).over(w))
      .withColumn("sy", sum(col("y").cast("decimal(38,0)")).over(w))
      .withColumn("sxy", sum(expr(
        "CAST(mo AS DECIMAL(38,0)) * y")).over(w))
      .withColumn("sxx", sum(expr(
        "CAST(mo AS DECIMAL(38,0)) * mo")).over(w))
      .filter(col("mo") > col("max_mo") - 12 && col("n") >= 2)
      .select(col("mo"), col("y").as("y_cents"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy").as("b_num"),
        expr("(sy * sxx - sx * sxy)").as("a_num"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx").as("d"),
        col("mo").cast("decimal(38,0)").as("x"))
      .select(col("mo"), col("y_cents"),
        // Prediction floored to whole CENTS: at 100 TB monthly revenue
        // is ~10¹⁵ cents, so a micro-scaled prediction would pass
        // int64 — cents keep the errors exact AND representable.
        expr("CAST(CASE WHEN a_num + b_num * x >= 0 THEN" +
          " (a_num + b_num * x) div d ELSE" +
          " -((-(a_num + b_num * x)) div d) END AS BIGINT)")
          .as("yhat_cents"))
      .withColumn("err_cents", expr("yhat_cents - y_cents"))
  }

  /** COARSENED EXACT MATCHING + ATT — the deterministic causal-
    * inference workhorse (Iacus/King/Porro): "treated" customers
    * (ordered during the 1995H1 window) are compared to controls ONLY
    * within exact strata of (market segment, account-balance bucket),
    * strata missing either side are PRUNED, and the counterfactual
    * mean re-weights each stratum's control mean by its treated count
    * — all of which is exact integer arithmetic here (per-stratum
    * micro floors summed deterministically, the kruskalWallis per-term
    * discipline), unlike propensity methods whose logistic weights
    * cannot replay. Outcome = 1995H2–1996 spend cents. The report
    * carries the pruning counts because CEM's honesty IS the pruning:
    * unmatched treated units are dropped, not extrapolated.
    *
    * Plan/scale shape: per-customer outcome/treatment aggregate over
    * the orders scan ⋈ broadcast customer dims → |strata| cell
    * aggregate → matched-strata filter → 1-row assembly. */
  def cemAtt(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        when(col("o_orderdate") >= to_timestamp_ntz(lit("1995-01-01")) &&
          col("o_orderdate") < to_timestamp_ntz(lit("1995-07-01")), 1L)
          .otherwise(0L).as("in_window"),
        when(col("o_orderdate") >= to_timestamp_ntz(lit("1995-07-01")) &&
          col("o_orderdate") < to_timestamp_ntz(lit("1997-01-01")),
          expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
          .otherwise(0L).as("out_cents"))
      .groupBy("o_custkey")
      .agg(max("in_window").as("treated"), sum("out_cents").as("y"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          expr("CAST((CAST(round(c_acctbal * 100, 0) AS BIGINT)" +
            " + 100000) div 200000 AS BIGINT)").as("bal_b"))),
        col("o_custkey") === col("c_custkey"))
    val strata = per.groupBy("seg", "bal_b")
      .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("treated") === 1, col("y")).otherwise(0L)).as("syt"),
        sum(when(col("treated") === 0, col("y")).otherwise(0L)).as("syc"))
      .localCheckpoint() // |strata| rows; feeds counts + both sums
    val matched = strata.filter(col("nt") > 0 && col("nc") > 0)
    val counts = strata.agg(count(lit(1)).as("n_strata"),
      sum(when(col("nt") > 0 && col("nc") === 0, col("nt")).otherwise(0L))
        .as("n_treated_pruned"))
    val mTot = matched.agg(sum("nt").as("ntm"), sum("nc").as("ncm"),
      sum("syt").as("sytm"))
    matched.crossJoin(broadcast(mTot))
      .select(expr("CAST(CAST(syc AS DECIMAL(38,0)) * 1000000 * nt" +
        " div (CAST(nc AS DECIMAL(38,0)) * ntm) AS BIGINT)").as("cf_term"))
      .agg(sum("cf_term").as("cf_micro"), count(lit(1)).as("n_matched"))
      .crossJoin(broadcast(mTot)).crossJoin(broadcast(counts))
      .select(col("n_strata"), col("n_matched"),
        col("ntm").as("n_treated_matched"),
        col("ncm").as("n_control_matched"), col("n_treated_pruned"),
        expr("CAST(CAST(sytm AS DECIMAL(38,0)) * 1000000 div ntm" +
          " AS BIGINT)").as("treated_mean_micro"),
        col("cf_micro").as("counterfactual_mean_micro"),
        expr("CAST(CAST(sytm AS DECIMAL(38,0)) * 1000000 div ntm" +
          " - cf_micro AS BIGINT)").as("att_micro"))
  }

  /** DIFFERENCE-IN-DIFFERENCES on the revenue panel — the two-group ×
    * two-period causal estimate (treated = BUILDING-segment customers,
    * periods = 1996 vs 1997): DiD = (ȳ_treated,post − ȳ_treated,pre)
    * − (ȳ_control,post − ȳ_control,pre), removing both the group's
    * level difference and the common time trend. One conditional
    * aggregate produces the four cells; every mean is an exact micro
    * floor-div and the DiD is plain integer subtraction of those
    * floors — the parallel-trends assumption is economics, but the
    * ARITHMETIC replays digit-for-digit.
    *
    * Plan/scale shape: orders scan ⋈ broadcast customer segment →
    * ONE 4-cell conditional aggregate → 1-row projection. */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    def cell(g: Int, p: Int, f: String) =
      sum(when(col("g") === g && col("p") === p, expr(f)).otherwise(0L))
    Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .select(col("o_custkey"),
        when(year(col("o_orderdate")) === 1997, 1).otherwise(0).as("p"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)
            .as("g"))),
        col("o_custkey") === col("c_custkey"))
      .agg(cell(1, 0, "cents").as("s10"), cell(1, 1, "cents").as("s11"),
        cell(0, 0, "cents").as("s00"), cell(0, 1, "cents").as("s01"),
        cell(1, 0, "1").as("n10"), cell(1, 1, "1").as("n11"),
        cell(0, 0, "1").as("n00"), cell(0, 1, "1").as("n01"))
      .selectExpr(
        "n10", "n11", "n00", "n01",
        "CAST(CAST(s10 AS DECIMAL(38,0)) * 1000000 div n10 AS BIGINT)" +
          " AS y_treated_pre_micro",
        "CAST(CAST(s11 AS DECIMAL(38,0)) * 1000000 div n11 AS BIGINT)" +
          " AS y_treated_post_micro",
        "CAST(CAST(s00 AS DECIMAL(38,0)) * 1000000 div n00 AS BIGINT)" +
          " AS y_control_pre_micro",
        "CAST(CAST(s01 AS DECIMAL(38,0)) * 1000000 div n01 AS BIGINT)" +
          " AS y_control_post_micro")
      .withColumn("did_micro",
        expr("(y_treated_post_micro - y_treated_pre_micro)" +
          " - (y_control_post_micro - y_control_pre_micro)"))
  }

  /** EVENT-STUDY plot data — the dynamic generalization of
    * [[diffInDiff]] and its standard diagnostic: per-YEAR treated-vs-
    * control mean gaps, each re-centered on the base-year (1995) gap.
    * Pre-period effects near zero = the parallel-trends assumption
    * looks credible; a pre-trend = the DiD number is suspect. Every
    * cell mean is an exact micro floor-div and the effect is integer
    * subtraction of those floors, so the whole curve hash-checks.
    *
    * Plan/scale shape: orders scan ⋈ broadcast segment flag → ONE
    * (year) conditional aggregate (4 cells per year, map-side
    * combined) → broadcast 1-row base gap → |years| rows out. */
  def eventStudy(spark: SparkSession, dir: String): DataFrame = {
    val gaps = Tables.orders(spark, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("o_custkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)
            .as("g"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("yr")
      .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("g") === 1, col("cents")).otherwise(0L)).as("s_t"),
        sum(when(col("g") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("g") === 0, col("cents")).otherwise(0L)).as("s_c"))
      .selectExpr("yr", "n_t", "n_c",
        "CAST(CAST(s_t AS DECIMAL(38,0)) * 1000000 div n_t AS BIGINT)" +
          " AS y_treated_micro",
        "CAST(CAST(s_c AS DECIMAL(38,0)) * 1000000 div n_c AS BIGINT)" +
          " AS y_control_micro")
      .withColumn("gap_micro",
        expr("y_treated_micro - y_control_micro"))
    // Checkpoint measured NEGATIVE here (r19, +27% min-over-two, flat
    // controls): both consumers share the IDENTICAL aggregate subtree,
    // so runtime ReuseExchange already runs the orders⋈customer pass
    // once — a checkpoint only adds an eager materialization job.
    gaps.crossJoin(broadcast(
        gaps.filter(col("yr") === 1995)
          .select(col("gap_micro").as("base_gap"))))
      .withColumn("effect_micro", expr("gap_micro - base_gap"))
      .drop("base_gap")
  }

  /** CUPED variance-reduced experiment readout (Deng/Xu/Kohavi/Walker
    * 2013) — the industry-standard A/B sensitivity boost: per-user
    * PRE-period spend X (events before the calendar midpoint) adjusts
    * the POST-period metric Y, θ = cov(X,Y)/var(X) pooled. The
    * adjusted lift (Ȳt−Ȳc) − θ(X̄t−X̄c) and the variance-reduction
    * ratio ρ² = θ·(P/R) are computed from ONE aggregate's integer
    * sums. θ is floored to ppm BEFORE the adjustment products (the
    * jackknife two-step-floor discipline: the single-rational form
    * P·diff·10⁶/(Q·n_t·n_c) passes DECIMAL(38) at ~10⁹ users), so
    * every reported number is a deterministic function of exact
    * BIGINTs and replays on any engine. Arm = user-id parity, the
    * same pure key split q_ab_test / q_srm_check use; the midpoint
    * cutoff is integer epoch-nano arithmetic, not a wall-clock.
    *
    * Plan/scale shape: events scan → 1-row min/max broadcast →
    * per-user (X, Y) aggregate → ONE pooled+per-arm aggregate →
    * pure projection. Σx², Σxy, Σy² accumulate in DECIMAL(38). */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val rng = ev.agg(min("ts").as("mn"), max("ts").as("mx"))
      .selectExpr("(mn + mx) div 2 AS cutoff")
    val per = ev.crossJoin(rng)
      .groupBy("user_id")
      .agg(sum(when(col("ts") < col("cutoff"), col("cents"))
          .otherwise(0L)).as("x"),
        sum(when(col("ts") >= col("cutoff"), col("cents"))
          .otherwise(0L)).as("y"))
      .withColumn("is_a", col("user_id") % 2 === 0)
    per.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("is_a"), col("x")).otherwise(0L)).as("sx_t"),
        sum(when(col("is_a"), col("y")).otherwise(0L)).as("sy_t"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("is_a"), col("x")).otherwise(0L)).as("sx_c"),
        sum(when(!col("is_a"), col("y")).otherwise(0L)).as("sy_c"))
      .selectExpr("n", "n_t", "n_c",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy" +
          " AS p",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx" +
          " AS q",
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy" +
          " AS r",
        "CAST(CAST(sy_t AS DECIMAL(38,0)) * 1000000 div n_t AS BIGINT)" +
          " - CAST(CAST(sy_c AS DECIMAL(38,0)) * 1000000 div n_c" +
          " AS BIGINT) AS raw_diff_micro",
        "CAST(CAST(sx_t AS DECIMAL(38,0)) * 1000000 div n_t AS BIGINT)" +
          " - CAST(CAST(sx_c AS DECIMAL(38,0)) * 1000000 div n_c" +
          " AS BIGINT) AS x_diff_micro")
      .selectExpr("n_t", "n_c", "raw_diff_micro",
        "CASE WHEN q = 0 THEN NULL ELSE CAST(CASE WHEN p >= 0" +
          " THEN p * 1000000 div q" +
          " ELSE -((-p) * 1000000 div q) END AS BIGINT) END AS theta_ppm",
        "CASE WHEN r = 0 THEN NULL ELSE CAST(CASE WHEN p >= 0" +
          " THEN p * 1000000 div r" +
          " ELSE -((-p) * 1000000 div r) END AS BIGINT) END AS p_over_r_ppm",
        "x_diff_micro")
      .selectExpr("n_t", "n_c", "raw_diff_micro", "theta_ppm",
        // two-step floors: θ_ppm and (P/R)_ppm are already exact
        // BIGINTs, so these products are deterministic on both engines
        "CASE WHEN theta_ppm IS NULL THEN NULL ELSE raw_diff_micro" +
          " - CAST(CASE WHEN CAST(theta_ppm AS DECIMAL(38,0)) * x_diff_micro >= 0" +
          " THEN CAST(theta_ppm AS DECIMAL(38,0)) * x_diff_micro div 1000000" +
          " ELSE -((-(CAST(theta_ppm AS DECIMAL(38,0)) * x_diff_micro))" +
          " div 1000000) END AS BIGINT) END AS adj_diff_micro",
        // ρ² = θ·(P/R) ≥ 0: both factors share P's sign
        "CASE WHEN theta_ppm IS NULL OR p_over_r_ppm IS NULL THEN NULL" +
          " ELSE CAST(abs(CAST(theta_ppm AS DECIMAL(38,0)) * p_over_r_ppm)" +
          " div 1000000 AS BIGINT) END AS var_reduction_ppm")
  }

  /** QUANTILE TREATMENT EFFECT at the median — the distributional
    * companion to the mean lift: exact lower-median event value per
    * arm (the division-free k-th-order-statistic pick over the
    * value-domain cell table, q_weighted_median's discipline) and
    * their difference. Means hide what medians show: a lift driven by
    * a few whales moves the mean and not the median — QTE is how an
    * experimentation platform tells those apart.
    *
    * Plan/scale shape: events scan → (arm, cents) map-side-combined
    * cell aggregate → arm-partitioned cumsum window over the DOMAIN-
    * capped cell table → min-pick per arm → 1-row pivot. The window
    * input is bounded by the price domain, not the corpus. */
  def qteMedian(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select((col("user_id") % 2 === 0).as("is_a"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("is_a", "cents").agg(count(lit(1)).as("w"))
    val tot = cells.groupBy("is_a").agg(sum("w").as("n"))
    val wCum = Window.partitionBy("is_a").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum", sum("w").over(wCum))
      .join(tot, "is_a")
      .filter(col("cum") * 2 >= col("n"))
      .groupBy("is_a").agg(min("cents").as("med"), max("n").as("n"))
      .agg(max(when(col("is_a"), col("n"))).as("n_a"),
        max(when(!col("is_a"), col("n"))).as("n_b"),
        max(when(col("is_a"), col("med"))).as("median_a_cents"),
        max(when(!col("is_a"), col("med"))).as("median_b_cents"))
      .withColumn("qte_cents",
        expr("median_b_cents - median_a_cents"))
  }

  /** POWER ANALYSIS / MINIMUM DETECTABLE EFFECT for the next
    * experiment, from the current corpus's own variance: at α=5%
    * (two-sided) and 80% power, MDE = (z₀.₉₇₅+z₀.₈)·σ·√(2/n_arm) and
    * the required n per arm for a 1%-of-mean target effect is
    * n = 2σ²(z_α+z_β)²/δ². The z constants are fixed milli integers
    * (1960 + 842 = 2802). σ² is the exact sample-variance rational
    * (n·Σy² − (Σy)²)/(n(n−1)) of per-user spend, and the square root
    * is an EXACT INTEGER SQRT: correctly-rounded IEEE double sqrt as
    * the seed, then a ±1 integer correction against the true square
    * (for x < 2⁶³ the double seed is within 1 of ⌊√x⌋ — the x→double
    * rounding error is ≤ √x·2⁻⁵⁴ < 1 — so one two-sided step lands
    * exactly; both engines' sqrt is IEEE correctly rounded). n_req is
    * a ceiling division, all DECIMAL(38).
    *
    * Plan/scale shape: events scan → per-user aggregate → ONE 1-row
    * total aggregate → pure projection chain. */
  def powerMde(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("user_id").agg(sum("cents").as("y"))
      .agg(count(lit(1)).as("n"), sum("y").as("sy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .selectExpr("n", "sy",
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy" +
          " AS varnum",
        "n div 2 AS n_arm",
        "CAST(CAST(sy AS DECIMAL(38,0)) * 1000 div n AS BIGINT)" +
          " AS mean_milli_cents")
      .selectExpr("n AS n_users", "n_arm", "mean_milli_cents",
        "CAST(varnum div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)" +
          " AS var_cents2",
        // X = 2σ²/n_arm scaled by 10⁶ (so isqrt yields milli-cents)
        "CAST(2 * varnum * 1000000 div (CAST(n AS DECIMAL(38,0))" +
          " * (n - 1) * n_arm) AS BIGINT) AS xv",
        "mean_milli_cents div 100 AS delta_milli_cents",
        "varnum")
      .selectExpr("n_users", "n_arm", "mean_milli_cents", "var_cents2",
        "xv", "delta_milli_cents", "varnum",
        "CAST(floor(sqrt(CAST(xv AS DOUBLE))) AS BIGINT) AS r0")
      .selectExpr("n_users", "n_arm", "mean_milli_cents", "var_cents2",
        "xv", "delta_milli_cents", "varnum",
        "r0 + (CASE WHEN CAST(r0 + 1 AS DECIMAL(38,0)) * (r0 + 1) <= xv" +
          " THEN 1 ELSE 0 END) AS r1")
      .selectExpr("n_users", "n_arm", "mean_milli_cents", "var_cents2",
        "delta_milli_cents", "varnum",
        "r1 - (CASE WHEN CAST(r1 AS DECIMAL(38,0)) * r1 > xv" +
          " THEN 1 ELSE 0 END) AS sd2n_milli")
      .selectExpr("n_users", "n_arm", "mean_milli_cents", "var_cents2",
        "delta_milli_cents",
        "CAST(2802 * sd2n_milli div 1000 AS BIGINT) AS mde_milli_cents",
        // n_req = ⌈2·z²·varnum / (n(n−1)·δ²)⌉, z² in micro cancels δ²'s
        // milli² — ceiling division via (a + b − 1) div b
        "CAST((2 * 7851204 * varnum + CAST(n_users AS DECIMAL(38,0))" +
          " * (n_users - 1) * delta_milli_cents * delta_milli_cents - 1)" +
          " div (CAST(n_users AS DECIMAL(38,0)) * (n_users - 1)" +
          " * delta_milli_cents * delta_milli_cents) AS BIGINT)" +
          " AS n_required_per_arm")

  /** INVERSE-PROPENSITY-WEIGHTED ATE (Horvitz-Thompson form) — the
    * classic observational estimator completing the causal suite
    * (CEM matches, DiD differences, CUPED residualizes; IPW
    * REWEIGHTS). Unit = order, treatment = high order priority
    * (1-URGENT/2-HIGH), outcome = order value in cents; the propensity
    * is the EXACT within-stratum treatment share e_s = nt_s/n_s over
    * (market segment × order year) confounder strata, so every weight
    * is a rational and the whole estimate replays digit-for-digit:
    * Ê[Y(1)] = (1/N)·Σ_s syt_s·n_s/nt_s, Ê[Y(0)] symmetric, summed as
    * per-stratum micro-floored DECIMAL(38) terms. Strata violating
    * positivity (no treated or no control) are EXCLUDED and counted —
    * the honesty report CEM pioneered — and the naive unadjusted
    * difference rides along so the confounding correction is visible.
    *
    * Scale: one fact scan + broadcast dim join → one |strata|-row
    * aggregate (segments × years ≈ 35 rows at ANY corpus size) →
    * 1-row output. Nothing quadratic, nothing driver-side.
    */
  def ipwAte(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("t"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
    val strata = per.groupBy("seg", "yr")
      .agg(count(lit(1)).as("n"), sum("t").as("nt"),
        sum(when(col("t") === 1, col("cents")).otherwise(0L)).as("syt"),
        sum(when(col("t") === 0, col("cents")).otherwise(0L)).as("syc"))
      .localCheckpoint() // ≤ segments×years rows; feeds used + pruned
    val used = strata.filter(col("nt") > 0 && col("nt") < col("n"))
      .select(col("n"), col("nt"),
        expr("CAST(syt AS DECIMAL(38,0)) * n * 1000000 div nt")
          .as("y1term"),
        expr("CAST(syc AS DECIMAL(38,0)) * n * 1000000 div (n - nt)")
          .as("y0term"),
        col("syt"), col("syc"))
    val pruned = strata.filter(col("nt") === 0 || col("nt") === col("n"))
      .agg(coalesce(sum("n"), lit(0L)).as("n_pruned"))
    used.agg(sum("n").as("n_used"), count(lit(1)).as("n_strata_used"),
        sum("y1term").as("s1"), sum("y0term").as("s0"),
        sum("nt").as("ntt"), sum(expr("n - nt")).as("ncc"),
        sum("syt").as("st"), sum("syc").as("sc"))
      .crossJoin(pruned)
      .selectExpr("n_used", "n_strata_used", "n_pruned",
        "CAST(s1 div n_used AS BIGINT) AS ey1_micro",
        "CAST(s0 div n_used AS BIGINT) AS ey0_micro",
        "CAST(s1 div n_used - s0 div n_used AS BIGINT) AS ate_ipw_micro",
        "CAST(CAST(st AS DECIMAL(38,0)) * 1000000 div ntt" +
          " - CAST(sc AS DECIMAL(38,0)) * 1000000 div ncc AS BIGINT)" +
          " AS ate_naive_micro")
  }

  /** CHURN LABEL BUILDER — the leakage-safe supervised-dataset
    * construction every behavioral model starts from: one temporal
    * cutoff (median of the event-time range, the CUPED split point),
    * FEATURES strictly from the pre-cutoff window (event count, spend
    * cents, active days, recency gap to cutoff) and the LABEL strictly
    * from the post-cutoff window (churned = zero post-cutoff events) —
    * the feature/label windows cannot overlap by construction, which
    * is the leakage discipline the point-in-time join enforces rowwise
    * applied at dataset grain. Users with no pre-cutoff activity are
    * excluded (no features to train on) and counted implicitly by the
    * row count. One events scan, one per-user conditional aggregate. */
  def churnLabels(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
    val rng = ev.agg(min("ts").as("mn"), max("ts").as("mx"))
      .selectExpr("(mn + mx) div 2 AS cutoff")
    ev.crossJoin(rng)
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < col("cutoff"), 1L).otherwise(0L))
          .as("f_events"),
        sum(when(col("ts") < col("cutoff"), col("cents")).otherwise(0L))
          .as("f_spend_cents"),
        countDistinct(when(col("ts") < col("cutoff"),
          expr("ts div 86400000000000"))).as("f_active_days"),
        max(when(col("ts") < col("cutoff"), col("ts"))).as("last_pre"),
        max(col("cutoff")).as("cutoff"),
        sum(when(col("ts") >= col("cutoff"), 1L).otherwise(0L))
          .as("post_events"))
      .filter(col("f_events") > 0)
      .select(col("user_id"), col("f_events"), col("f_spend_cents"),
        col("f_active_days"),
        (col("cutoff") - col("last_pre")).as("f_recency_ns"),
        (col("post_events") === 0).as("label_churned"))
  }

  /** EXACT GINI COEFFICIENT of customer spend — the single-number
    * concentration statistic the Lorenz-decile table approximates:
    * G = (2·Σ rk·x − (n+1)·Σx) / (n·Σx) with rk the ascending global
    * rank by (spend, custkey). The rank comes from the distributed
    * range-shuffle cumsum primitive (weight 1 → strictly-before count
    * + 1), so no global window ever sees the raw rows; one DECIMAL(38)
    * rational out, ppm-floored. Ascending order makes every term
    * non-negative, so `div`/`//` agree without a sign split. */
  def giniCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .as("x"))
      .withColumn("one", lit(1L))
    Packing.withGlobalCumsum(per, "one", Seq("x", "o_custkey"))
      .withColumn("rk", col("cum_before") + 1)
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(expr("CAST(rk AS DECIMAL(38,0)) * x")).as("srx"))
      .selectExpr("n", "sx AS total_cents",
        "CAST((2 * srx - CAST(n + 1 AS DECIMAL(38,0)) * sx) * 1000000" +
          " div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT) AS gini_ppm")
  }

  /** MULTIPLE-TESTING SCREEN with Bonferroni control — the governance
    * step after the single-test suite: every nation's mean order
    * value is Welch-tested against the rest of the corpus (25
    * simultaneous tests), and each t² is flagged at BOTH the raw
    * χ²₁(0.95) = 3.841 critical value and the Bonferroni-corrected
    * χ²₁(1 − 0.05/25) = 9.550 one — the difference between the two
    * flag columns IS the false-discovery lesson. The critical values
    * are milli-scaled literals (the one place a distribution constant
    * is unavoidable; both cited, both engine-identical); everything
    * else is the welchT integer chain applied per group against the
    * broadcast complement. One grouped aggregate + 25-row algebra. */
  /** Per-nation two-sample stats (group vs rest-of-corpus), the SHARED
    * chain of the multiple-testing family: mean-difference in milli and
    * the Welch t² statistic in milli, all DECIMAL(38) exact.
    * [[screenBonferroni]] stamps family-wise flags on it;
    * [[screenBh]] ranks it through the Benjamini-Hochberg step-up. */
  private def nationT2(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n1"),
        sum("cents").cast("decimal(38,0)").as("s1"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).as("q1"))
      // Checkpointed (r19): ≤|nations| rows, but BOTH consumers (tot
      // and the crossJoin) re-ran the orders⋈dims aggregate in full —
      // the screenBh caller then doubled that again (4 fact passes).
      .localCheckpoint()
    val tot = per.agg(sum("n1").as("nt"), sum("s1").as("st"),
      sum("q1").as("qt"))
    per.crossJoin(tot)
      .select(col("n_name"), col("n1"), col("s1"), col("q1"),
        expr("nt - n1").as("n2"), expr("st - s1").as("s2"),
        expr("qt - q1").as("q2"))
      .select(col("n_name"), col("n1"), col("n2"), col("s1"), col("s2"),
        expr("(n1 * q1 - s1 * s1) div (n1 * (n1 - 1))").as("v1"),
        expr("(n2 * q2 - s2 * s2) div (n2 * (n2 - 1))").as("v2"))
      .select(col("n_name"), col("n1"),
        expr("CASE WHEN s1 * n2 - s2 * n1 >= 0" +
          " THEN (s1 * n2 - s2 * n1) * 1000 div (n1 * n2)" +
          " ELSE -((s2 * n1 - s1 * n2) * 1000 div (n1 * n2)) END")
          .as("d_milli"),
        expr("v1 div n1 + v2 div n2").as("se2"))
      .select(col("n_name"), expr("CAST(n1 AS BIGINT)").as("n_group"),
        expr("CAST(d_milli AS BIGINT)").as("mean_diff_milli"),
        expr("CAST(CASE WHEN se2 <= 0 THEN 0 ELSE" +
          " CAST(d_milli AS DECIMAL(38,0)) * d_milli div (1000 * se2)" +
          " END AS BIGINT)").as("t2_milli"))
  }

  def screenBonferroni(spark: SparkSession, dir: String): DataFrame =
    nationT2(spark, dir)
      .withColumn("sig_raw", col("t2_milli") >= 3841)
      .withColumn("sig_bonferroni", col("t2_milli") >= 9550)

  /** chi²₁ upper quantiles at p = 0.002·k for k = 1..25 (α = 0.05 over
    * the m = 25-nation screen), in milli: floor(1000·F⁻¹(1 − 0.002k)).
    * 25 cited constants — the one place an inverse CDF is unavoidable,
    * identical literals in both engines (NDCG-discount discipline).
    * Endpoints sanity-check against the Bonferroni pair: k=1 → 9549
    * (α/m), k=25 → 3841 (α). */
  private[graft] val Chi2QuantMilli: Seq[Long] = Seq(
    9549L, 8283L, 7550L, 7033L, 6634L, 6310L, 6038L, 5802L, 5596L,
    5411L, 5245L, 5094L, 4956L, 4828L, 4709L, 4598L, 4494L, 4397L,
    4305L, 4217L, 4135L, 4056L, 3981L, 3909L, 3841L)

  /** BENJAMINI-HOCHBERG step-up (FDR control at α = 0.05) over the
    * SAME per-nation screen [[screenBonferroni]] family-wise-corrects
    * — the pair every large-scale screening pipeline runs together
    * (Bonferroni for "any false positive is fatal", BH for "a
    * controlled fraction of discoveries may be false"). p-values never
    * materialize: p_(k) ≤ k·α/m ⟺ t²_(k) ≥ F⁻¹(1 − k·α/m), so the
    * step-up compares the DESCENDING t² ranks against the 25-entry
    * quantile table and k_max is the largest passing rank; discoveries
    * are ranks ≤ k_max. The thresholds are computed for the design
    * m = 25 (TPC-H nations); a corpus slice with fewer populated
    * groups is tested against the same table, which is conservative
    * (larger m ⇒ stricter k·α/m), so FDR ≤ α still holds.
    *
    * Plan/scale: the fact scan is [[nationT2]]'s one aggregate pass;
    * ranking and the step-up run on ≤ 25 post-aggregate rows (bounded
    * rank window + broadcast threshold join + broadcast 1-row k_max).
    */
  def screenBh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val thr = Chi2QuantMilli.zipWithIndex
      .map { case (t, i) => (i + 1, t) }
      .toDF("rk", "thr_milli")
    val ranked = nationT2(spark, dir)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("t2_milli").desc, col("n_name"))))
      .join(thr, "rk")
      // Checkpointed (r19): ≤25 post-aggregate rows (the unpartitioned
      // rank window above is bounded by the same invariant), consumed
      // by BOTH k_max and the final stamp — each re-ran nationT2.
      .localCheckpoint()
    val kMax = ranked.filter(col("t2_milli") >= col("thr_milli"))
      .agg(coalesce(max("rk"), lit(0)).as("k_max"))
    ranked.crossJoin(kMax)
      .select(col("n_name"), col("n_group"), col("t2_milli"),
        col("rk"), col("thr_milli"),
        (col("rk") <= col("k_max")).as("sig_bh"))
  }

  /** INDEX OF DISPERSION (variance-to-mean ratio) of daily event
    * counts per event type — the burstiness monitor (Poisson arrivals
    * ⇒ VMR ≈ 1; VMR ≫ 1 = bursty/bot-like traffic, VMR < 1 =
    * rate-limited/regular): exact milli via the DECIMAL(38) identity
    * VMR = (n·Σx² − S²) / (S·(n − 1)). Days with ZERO events are in
    * the denominator (densified against the min..max day span —
    * omitting them silently deflates the variance of rare types,
    * which is exactly the signal). Span and type dimensions are
    * broadcast-tiny; the one corpus pass is the (type, day) count. */
  def dispersionIndex(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000000L
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr(s"ts div ${day}L").as("d"))
    val days = ev.agg(min("d").as("lo"), max("d").as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("d"))
    val grid = days.crossJoin(broadcast(ev.select("event_type").distinct()))
    val counts = ev.groupBy("event_type", "d").agg(count(lit(1)).as("x"))
    grid.join(counts, Seq("event_type", "d"), "left")
      .select(col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("x").as("total"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("q"))
      .selectExpr("event_type", "n_days", "total",
        "CAST((CAST(n_days AS DECIMAL(38,0)) * q" +
          " - CAST(total AS DECIMAL(38,0)) * total) * 1000" +
          " div (CAST(total AS DECIMAL(38,0)) * (n_days - 1))" +
          " AS BIGINT) AS vmr_milli")
  }

  /** TOTAL-VARIATION drift DISTANCE between the 1995 and 1996 order
    * price distributions — the log-free companion of the KS drift test
    * (`q_ks_drift` compares CDFs at the worst point; TVD = ½ Σ|p − q|
    * over power-of-two cent buckets compares densities in aggregate,
    * and unlike PSI/KL needs no logarithm, so it stays exact ppm).
    * The model-monitoring number a feature store pages on. One fact
    * scan → |buckets| rows (≤ 64 — binary-repr length bucketing, the
    * 25e idiom) → one-row report. */
  def tvdDrift(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.orders(spark, dir)
      .filter(expr("year(o_orderdate) IN (1995, 1996)"))
      .select(expr("length(bin(CAST(round(o_totalprice * 100, 0)" +
        " AS BIGINT)))").as("bucket"),
        expr("year(o_orderdate)").as("yr"))
      .groupBy("bucket")
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n95"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n96"))
    val tot = b.agg(sum("n95").as("t95"), sum("n96").as("t96"))
    b.crossJoin(tot)
      .agg(max("t95").as("n_1995"), max("t96").as("n_1996"),
        count(lit(1)).as("n_buckets"),
        sum(expr("abs(n95 * 1000000 div t95 - n96 * 1000000 div t96)"))
          .as("sd"))
      .select(col("n_1995"), col("n_1996"), col("n_buckets"),
        expr("CAST(sd div 2 AS BIGINT)").as("tvd_ppm"))
  }

  /** KENDALL RANK CONCORDANCE between monthly order volume and monthly
    * revenue — the robust "do these two series move together"
    * statistic beside [[Analytics]]' Spearman (tau counts pairwise
    * order inversions; Spearman correlates midranks): concordant /
    * discordant / tied pair counts over all month pairs, plus tau-a in
    * exact ppm ((C − D)·10⁶ div pairs — tau-b's √ normalizer is
    * libm, so the tie counts ride along raw and the oracle checks
    * them exactly).
    *
    * Plan/scale: one fact scan → |months| aggregate rows; the pair
    * stage is a broadcast self-join of the ~84-row monthly table
    * (cheap-comparison BNLJ on bounded post-aggregate rows, the
    * Shapley discipline) → one global aggregate. */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select(expr("CAST((year(o_orderdate) - 1992) * 12" +
        " + month(o_orderdate) - 1 AS BIGINT)").as("m"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("m")
      .agg(count(lit(1)).as("x"), sum("cents").as("y"))
    val pairs = monthly.as("a")
      .join(broadcast(monthly.as("b")), col("a.m") < col("b.m"))
      .select((col("b.x") - col("a.x")).as("dx"),
        (col("b.y") - col("a.y")).as("dy"))
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when((col("dx") > 0 && col("dy") > 0) ||
        (col("dx") < 0 && col("dy") < 0), 1L).otherwise(0L))
        .as("concordant"),
      sum(when((col("dx") > 0 && col("dy") < 0) ||
        (col("dx") < 0 && col("dy") > 0), 1L).otherwise(0L))
        .as("discordant"),
      sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L))
        .as("ties_x"),
      sum(when(col("dx") =!= 0 && col("dy") === 0, 1L).otherwise(0L))
        .as("ties_y"),
      sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
        .as("ties_xy"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"), col("ties_xy"),
        expr("CAST(CASE WHEN concordant >= discordant" +
          " THEN (concordant - discordant) * 1000000 div n_pairs" +
          " ELSE -((discordant - concordant) * 1000000 div n_pairs)" +
          " END AS BIGINT)").as("tau_a_ppm"))
  }

  /** ROLLING 7-day MEDIAN of daily revenue — the robust trendline
    * beside the rolling OLS slope (a single spike day drags a rolling
    * mean for a week; the rolling median shrugs it off). The frame is
    * a RANGE window over the day value (missing days shrink the
    * window rather than silently stretching it, which a ROWS frame
    * would), the input is the CALENDAR-bounded daily aggregate (so
    * the unpartitioned window is plan-safe), and the lower median is
    * element (n+1) div 2 of the sorted in-frame values — exact
    * integer cents, no even-count float midpoint. */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev"))
    val w = Window.orderBy("day").rangeBetween(-6, 0)
    daily.withColumn("arr", sort_array(collect_list("rev").over(w)))
      .select(col("day"), col("rev"),
        size(col("arr")).cast("long").as("n_window"),
        expr("element_at(arr, CAST((size(arr) + 1) div 2 AS INT))")
          .as("roll_med"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rolling_median" -> rollingMedian,
    "q_screen_bonferroni" -> screenBonferroni,
    "q_screen_bh" -> screenBh,
    "q_kendall_tau" -> kendallTau,
    "q_tvd_drift" -> tvdDrift,
    "q_dispersion_index" -> dispersionIndex,
    "q_gini_coefficient" -> giniCoefficient,
    "q_churn_labels" -> churnLabels,
    "q_ipw_ate" -> ipwAte,
    "q_event_study" -> eventStudy,
    "q_cuped" -> cuped,
    "q_qte_median" -> qteMedian,
    "q_power_mde" -> powerMde,
    "q_cem_att" -> cemAtt,
    "q_diff_in_diff" -> diffInDiff,
    "q_forecast_backtest" -> forecastBacktest,
    "q_runs_test" -> runsTest,
    "q_weighted_median" -> weightedMedian,
    "q_wilcoxon_signed" -> wilcoxonSigned,
    "q_friedman" -> friedman,
    "q_page_trend" -> pageTrend,
    "q_anova_f" -> anovaF,
    "q_welch_t" -> welchT,
    "q_jackknife" -> jackknife,
    "q_kruskal_wallis" -> kruskalWallis,
    "q_mann_whitney" -> mannWhitney,
    "q_theil_sen" -> theilSen,
    "q_conformal_interval" -> conformalInterval,
    "q_ts_similarity" -> tsSimilarity,
    "q_autocorr" -> ((s, d) => autocorr(s, d)),
    "q_cusum" -> cusum,
    "q_rolling_slope" -> ((s, d) => rollingSlope(s, d)),
    "q_rfm_segments" -> rfmSegments,
    "q_survival_curve" -> survivalCurve,
    "q_ab_test" -> abTest,
    "q_srm_check" -> srmCheck,
    "q_benford" -> benford,
    "q_revenue_lorenz" -> ((s, d) => revenueLorenz(s, d)),
    "q_seasonal_anomaly" -> seasonalAnomaly,
    "q_changepoint" -> ((s, d) => changepoint(s, d)),
    "q_interarrival_fano" -> interarrivalFano,
    "q_neyman_alloc" -> ((s, d) => neymanAllocation(s, d)),
    "q_bootstrap_means" -> bootstrapMeans,
    "q_ks_drift" -> ksDrift,
    "q_trend_slope" -> (trendSlope(_, _)),
    "q_spearman_corr" -> (spearmanCorr(_, _)),
    "q_gini_hhi" -> (giniHhi(_, _)),
    "q_quality_selectivity" -> (qualitySelectivity(_, _)),
    "q_weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "q_quantile_norm" -> (quantileNorm(_, _)))

  /** Shared per-nation two-sample CTE chain ([[nationT2]]'s replay):
    * ends at `d(n_name, n1, d_milli, se2)` — both multiple-testing
    * oracles build on it so the screened statistics cannot drift. */
  private val nationT2Sql: String =
    """per AS (
      |  SELECT n_name,
      |         CAST(count(*) AS HUGEINT) AS n1,
      |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |           AS HUGEINT) AS s1,
      |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS HUGEINT)
      |           * CAST(round(o_totalprice * 100, 0) AS HUGEINT))
      |           AS HUGEINT) AS q1
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1),
      |tot AS (SELECT sum(n1) AS nt, sum(s1) AS st, sum(q1) AS qt
      |        FROM per),
      |w AS (
      |  SELECT n_name, n1, s1, q1, nt - n1 AS n2, st - s1 AS s2,
      |         qt - q1 AS q2
      |  FROM per CROSS JOIN tot),
      |v AS (
      |  SELECT n_name, n1, n2, s1, s2,
      |         (n1 * q1 - s1 * s1) // (n1 * (n1 - 1)) AS v1,
      |         (n2 * q2 - s2 * s2) // (n2 * (n2 - 1)) AS v2
      |  FROM w),
      |d AS (
      |  SELECT n_name, n1,
      |         CASE WHEN s1 * n2 - s2 * n1 >= 0
      |           THEN (s1 * n2 - s2 * n1) * 1000 // (n1 * n2)
      |           ELSE -((s2 * n1 - s1 * n2) * 1000 // (n1 * n2)) END
      |           AS d_milli,
      |         v1 // n1 + v2 // n2 AS se2
      |  FROM v)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_screen_bh" ->
      s"""WITH $nationT2Sql,
        |stats AS (
        |  SELECT n_name, CAST(n1 AS BIGINT) AS n_group,
        |         CAST(CASE WHEN se2 <= 0 THEN 0 ELSE
        |           d_milli * d_milli // (1000 * se2) END AS BIGINT)
        |           AS t2_milli
        |  FROM d),
        |thr(rk, thr_milli) AS (VALUES
        |  ${Chi2QuantMilli.zipWithIndex
             .map { case (t, i) => s"(${i + 1}, $t)" }.mkString(", ")}),
        |ranked AS (
        |  SELECT s.*, CAST(row_number() OVER
        |    (ORDER BY t2_milli DESC, n_name) AS INT) AS rk
        |  FROM stats s),
        |j AS (SELECT r.*, CAST(t.thr_milli AS BIGINT) AS thr_milli
        |      FROM ranked r JOIN thr t ON t.rk = r.rk),
        |km AS (SELECT CAST(coalesce(max(rk), 0) AS INT) AS k_max
        |       FROM j WHERE t2_milli >= thr_milli)
        |SELECT n_name, n_group, t2_milli, rk, thr_milli,
        |       rk <= k_max AS sig_bh
        |FROM j CROSS JOIN km""".stripMargin,
    "q_dispersion_index" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS d
        |  FROM events),
        |span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
        |days AS (SELECT unnest(range(lo, hi + 1)) AS d FROM span),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |grid AS (SELECT t.event_type, dy.d FROM days dy CROSS JOIN types t),
        |counts AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS x
        |           FROM ev GROUP BY 1, 2),
        |filled AS (
        |  SELECT g.event_type, coalesce(c.x, 0) AS x
        |  FROM grid g LEFT JOIN counts c
        |    ON c.event_type = g.event_type AND c.d = g.d),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n_days,
        |         CAST(sum(x) AS HUGEINT) AS total,
        |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
        |  FROM filled GROUP BY 1)
        |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
        |       CAST(total AS BIGINT) AS total,
        |       CAST((n_days * q - total * total) * 1000
        |         // (total * (n_days - 1)) AS BIGINT) AS vmr_milli
        |FROM agg""".stripMargin,
    "q_tvd_drift" ->
      """WITH b AS (
        |  SELECT length(bin(CAST(round(o_totalprice * 100, 0)
        |           AS BIGINT))) AS bucket,
        |         CAST(sum(CASE WHEN year(o_orderdate) = 1995
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n95,
        |         CAST(sum(CASE WHEN year(o_orderdate) = 1996
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n96
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY 1),
        |tot AS (SELECT sum(n95) AS t95, sum(n96) AS t96 FROM b)
        |SELECT CAST(max(t95) AS BIGINT) AS n_1995,
        |       CAST(max(t96) AS BIGINT) AS n_1996,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(abs(n95 * 1000000 // t95
        |         - n96 * 1000000 // t96)) // 2 AS BIGINT) AS tvd_ppm
        |FROM b CROSS JOIN tot""".stripMargin,
    "q_kendall_tau" ->
      """WITH monthly AS (
        |  SELECT CAST((year(o_orderdate) - 1992) * 12
        |           + month(o_orderdate) - 1 AS BIGINT) AS m,
        |         CAST(count(*) AS BIGINT) AS x,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT b.x - a.x AS dx, b.y - a.y AS dy
        |  FROM monthly a JOIN monthly b ON a.m < b.m),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CASE WHEN (dx > 0 AND dy > 0)
        |           OR (dx < 0 AND dy < 0) THEN 1 ELSE 0 END) AS BIGINT)
        |           AS concordant,
        |         CAST(sum(CASE WHEN (dx > 0 AND dy < 0)
        |           OR (dx < 0 AND dy > 0) THEN 1 ELSE 0 END) AS BIGINT)
        |           AS discordant,
        |         CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ties_x,
        |         CAST(sum(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ties_y,
        |         CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS ties_xy
        |  FROM pairs)
        |SELECT n_pairs, concordant, discordant, ties_x, ties_y, ties_xy,
        |       CAST(CASE WHEN concordant >= discordant
        |         THEN (concordant - discordant) * 1000000 // n_pairs
        |         ELSE -((discordant - concordant) * 1000000 // n_pairs)
        |         END AS BIGINT) AS tau_a_ppm
        |FROM agg""".stripMargin,
    "q_screen_bonferroni" ->
      """WITH per AS (
        |  SELECT n_name,
        |         CAST(count(*) AS HUGEINT) AS n1,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS HUGEINT) AS s1,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS HUGEINT)
        |           * CAST(round(o_totalprice * 100, 0) AS HUGEINT))
        |           AS HUGEINT) AS q1
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |tot AS (SELECT sum(n1) AS nt, sum(s1) AS st, sum(q1) AS qt
        |        FROM per),
        |w AS (
        |  SELECT n_name, n1, s1, q1, nt - n1 AS n2, st - s1 AS s2,
        |         qt - q1 AS q2
        |  FROM per CROSS JOIN tot),
        |v AS (
        |  SELECT n_name, n1, n2, s1, s2,
        |         (n1 * q1 - s1 * s1) // (n1 * (n1 - 1)) AS v1,
        |         (n2 * q2 - s2 * s2) // (n2 * (n2 - 1)) AS v2
        |  FROM w),
        |d AS (
        |  SELECT n_name, n1,
        |         CASE WHEN s1 * n2 - s2 * n1 >= 0
        |           THEN (s1 * n2 - s2 * n1) * 1000 // (n1 * n2)
        |           ELSE -((s2 * n1 - s1 * n2) * 1000 // (n1 * n2)) END
        |           AS d_milli,
        |         v1 // n1 + v2 // n2 AS se2
        |  FROM v)
        |SELECT n_name, CAST(n1 AS BIGINT) AS n_group,
        |       CAST(d_milli AS BIGINT) AS mean_diff_milli,
        |       CAST(CASE WHEN se2 <= 0 THEN 0 ELSE
        |         d_milli * d_milli // (1000 * se2) END AS BIGINT)
        |         AS t2_milli,
        |       CASE WHEN se2 <= 0 THEN FALSE ELSE
        |         d_milli * d_milli // (1000 * se2) >= 3841 END AS sig_raw,
        |       CASE WHEN se2 <= 0 THEN FALSE ELSE
        |         d_milli * d_milli // (1000 * se2) >= 9550 END
        |         AS sig_bonferroni
        |FROM d""".stripMargin,
    "q_rolling_median" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |           AS BIGINT) AS rev
        |  FROM events GROUP BY 1),
        |roll AS (
        |  SELECT a.day, a.rev, b.rev AS brev, b.day AS bday
        |  FROM daily a JOIN daily b ON b.day BETWEEN a.day - 6 AND a.day),
        |rk AS (
        |  SELECT day, rev, brev,
        |         row_number() OVER (PARTITION BY day
        |           ORDER BY brev, bday) AS r,
        |         count(*) OVER (PARTITION BY day) AS n
        |  FROM roll)
        |SELECT day, rev, CAST(n AS BIGINT) AS n_window,
        |       brev AS roll_med
        |FROM rk WHERE r = (n + 1) // 2""".stripMargin,
    "q_gini_coefficient" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS rk
        |      FROM per)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(x) AS BIGINT) AS total_cents,
        |       CAST((2 * sum(CAST(rk AS HUGEINT) * x)
        |           - (count(*) + 1) * CAST(sum(x) AS HUGEINT)) * 1000000
        |         // (CAST(count(*) AS HUGEINT) * sum(x)) AS BIGINT)
        |         AS gini_ppm
        |FROM r""".stripMargin,
    "q_churn_labels" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tsn,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |rng AS (SELECT (min(tsn) + max(tsn)) // 2 AS cutoff FROM e),
        |per AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN tsn < cutoff THEN 1 ELSE 0 END)
        |           AS BIGINT) AS f_events,
        |         CAST(sum(CASE WHEN tsn < cutoff THEN cents ELSE 0 END)
        |           AS BIGINT) AS f_spend_cents,
        |         CAST(count(DISTINCT CASE WHEN tsn < cutoff
        |           THEN tsn // 86400000000000 END) AS BIGINT)
        |           AS f_active_days,
        |         max(CASE WHEN tsn < cutoff THEN tsn END) AS last_pre,
        |         max(cutoff) AS cutoff,
        |         CAST(sum(CASE WHEN tsn >= cutoff THEN 1 ELSE 0 END)
        |           AS BIGINT) AS post_events
        |  FROM e CROSS JOIN rng GROUP BY 1)
        |SELECT user_id, f_events, f_spend_cents, f_active_days,
        |       cutoff - last_pre AS f_recency_ns,
        |       post_events = 0 AS label_churned
        |FROM per WHERE f_events > 0""".stripMargin,
    "q_ipw_ate" ->
      """WITH per AS (
        |  SELECT c_mktsegment AS seg, year(o_orderdate) AS yr,
        |         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END AS t,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |strata AS (
        |  SELECT seg, yr, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(t) AS BIGINT) AS nt,
        |         CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END)
        |           AS BIGINT) AS syt,
        |         CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END)
        |           AS BIGINT) AS syc
        |  FROM per GROUP BY 1, 2),
        |used AS (
        |  SELECT n, nt,
        |         CAST(syt AS HUGEINT) * n * 1000000 // nt AS y1term,
        |         CAST(syc AS HUGEINT) * n * 1000000 // (n - nt) AS y0term,
        |         syt, syc
        |  FROM strata WHERE nt > 0 AND nt < n),
        |pruned AS (
        |  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_pruned
        |  FROM strata WHERE nt = 0 OR nt = n),
        |agg AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_used,
        |         CAST(count(*) AS BIGINT) AS n_strata_used,
        |         sum(y1term) AS s1, sum(y0term) AS s0,
        |         CAST(sum(nt) AS BIGINT) AS ntt,
        |         CAST(sum(n - nt) AS BIGINT) AS ncc,
        |         CAST(sum(syt) AS BIGINT) AS st,
        |         CAST(sum(syc) AS BIGINT) AS sc
        |  FROM used)
        |SELECT n_used, n_strata_used, n_pruned,
        |       CAST(s1 // n_used AS BIGINT) AS ey1_micro,
        |       CAST(s0 // n_used AS BIGINT) AS ey0_micro,
        |       CAST(s1 // n_used - s0 // n_used AS BIGINT)
        |         AS ate_ipw_micro,
        |       CAST(CAST(st AS HUGEINT) * 1000000 // ntt
        |         - CAST(sc AS HUGEINT) * 1000000 // ncc AS BIGINT)
        |         AS ate_naive_micro
        |FROM agg CROSS JOIN pruned""".stripMargin,
    "q_event_study" ->
      """WITH cells AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1
        |           ELSE 0 END) AS BIGINT) AS n_t,
        |         CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
        |           THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS s_t,
        |         CAST(sum(CASE WHEN c_mktsegment <> 'BUILDING' THEN 1
        |           ELSE 0 END) AS BIGINT) AS n_c,
        |         CAST(sum(CASE WHEN c_mktsegment <> 'BUILDING'
        |           THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |           ELSE 0 END) AS BIGINT) AS s_c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |gaps AS (
        |  SELECT yr, n_t, n_c,
        |         CAST(CAST(s_t AS HUGEINT) * 1000000 // n_t AS BIGINT)
        |           AS y_treated_micro,
        |         CAST(CAST(s_c AS HUGEINT) * 1000000 // n_c AS BIGINT)
        |           AS y_control_micro
        |  FROM cells),
        |g2 AS (SELECT *, y_treated_micro - y_control_micro AS gap_micro
        |       FROM gaps),
        |base AS (SELECT gap_micro AS base_gap FROM g2 WHERE yr = 1995)
        |SELECT yr, n_t, n_c, y_treated_micro, y_control_micro, gap_micro,
        |       gap_micro - base_gap AS effect_micro
        |FROM g2 CROSS JOIN base""".stripMargin,
    "q_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS tns,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |rng AS (SELECT (min(tns) + max(tns)) // 2 AS cutoff FROM ev),
        |per AS (
        |  SELECT user_id,
        |         CAST(sum(CASE WHEN tns < cutoff THEN cents ELSE 0 END)
        |           AS BIGINT) AS x,
        |         CAST(sum(CASE WHEN tns >= cutoff THEN cents ELSE 0 END)
        |           AS BIGINT) AS y,
        |         user_id % 2 = 0 AS is_a
        |  FROM ev CROSS JOIN rng GROUP BY user_id),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(y AS HUGEINT) * y) AS syy,
        |         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_t,
        |         CAST(sum(CASE WHEN is_a THEN x ELSE 0 END) AS BIGINT)
        |           AS sx_t,
        |         CAST(sum(CASE WHEN is_a THEN y ELSE 0 END) AS BIGINT)
        |           AS sy_t,
        |         CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_c,
        |         CAST(sum(CASE WHEN NOT is_a THEN x ELSE 0 END) AS BIGINT)
        |           AS sx_c,
        |         CAST(sum(CASE WHEN NOT is_a THEN y ELSE 0 END) AS BIGINT)
        |           AS sy_c
        |  FROM per),
        |d AS (
        |  SELECT n, n_t, n_c,
        |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS p,
        |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS q,
        |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS r,
        |         CAST(CAST(sy_t AS HUGEINT) * 1000000 // n_t AS BIGINT)
        |           - CAST(CAST(sy_c AS HUGEINT) * 1000000 // n_c AS BIGINT)
        |           AS raw_diff_micro,
        |         CAST(CAST(sx_t AS HUGEINT) * 1000000 // n_t AS BIGINT)
        |           - CAST(CAST(sx_c AS HUGEINT) * 1000000 // n_c AS BIGINT)
        |           AS x_diff_micro
        |  FROM tot),
        |t AS (
        |  SELECT n_t, n_c, raw_diff_micro, x_diff_micro,
        |         CASE WHEN q = 0 THEN NULL ELSE CAST(CASE WHEN p >= 0
        |           THEN p * 1000000 // q
        |           ELSE -((-p) * 1000000 // q) END AS BIGINT) END
        |           AS theta_ppm,
        |         CASE WHEN r = 0 THEN NULL ELSE CAST(CASE WHEN p >= 0
        |           THEN p * 1000000 // r
        |           ELSE -((-p) * 1000000 // r) END AS BIGINT) END
        |           AS p_over_r_ppm
        |  FROM d)
        |SELECT n_t, n_c, raw_diff_micro, theta_ppm,
        |       CASE WHEN theta_ppm IS NULL THEN NULL ELSE raw_diff_micro
        |         - CAST(CASE WHEN CAST(theta_ppm AS HUGEINT) * x_diff_micro >= 0
        |           THEN CAST(theta_ppm AS HUGEINT) * x_diff_micro // 1000000
        |           ELSE -((-(CAST(theta_ppm AS HUGEINT) * x_diff_micro))
        |             // 1000000) END AS BIGINT) END AS adj_diff_micro,
        |       CASE WHEN theta_ppm IS NULL OR p_over_r_ppm IS NULL THEN NULL
        |         ELSE CAST(abs(CAST(theta_ppm AS HUGEINT) * p_over_r_ppm)
        |           // 1000000 AS BIGINT) END AS var_reduction_ppm
        |FROM t""".stripMargin,
    "q_qte_median" ->
      """WITH cells AS (
        |  SELECT user_id % 2 = 0 AS is_a,
        |         CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT is_a, CAST(sum(w) AS BIGINT) AS n FROM cells
        |        GROUP BY 1),
        |cum AS (
        |  SELECT c.is_a, c.cents, t.n,
        |         CAST(sum(w) OVER (PARTITION BY c.is_a ORDER BY c.cents
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM cells c JOIN tot t ON c.is_a = t.is_a),
        |med AS (
        |  SELECT is_a, CAST(min(cents) AS BIGINT) AS med,
        |         CAST(max(n) AS BIGINT) AS n
        |  FROM cum WHERE cum * 2 >= n GROUP BY 1)
        |SELECT max(CASE WHEN is_a THEN n END) AS n_a,
        |       max(CASE WHEN NOT is_a THEN n END) AS n_b,
        |       max(CASE WHEN is_a THEN med END) AS median_a_cents,
        |       max(CASE WHEN NOT is_a THEN med END) AS median_b_cents,
        |       max(CASE WHEN NOT is_a THEN med END)
        |         - max(CASE WHEN is_a THEN med END) AS qte_cents
        |FROM med""".stripMargin,
    "q_power_mde" ->
      """WITH per AS (
        |  SELECT user_id,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM per),
        |d AS (
        |  SELECT n, sy,
        |         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
        |           AS varnum,
        |         n // 2 AS n_arm,
        |         CAST(CAST(sy AS HUGEINT) * 1000 // n AS BIGINT)
        |           AS mean_milli_cents
        |  FROM tot),
        |e AS (
        |  SELECT n AS n_users, n_arm, mean_milli_cents,
        |         CAST(varnum // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
        |           AS var_cents2,
        |         CAST(2 * varnum * 1000000 // (CAST(n AS HUGEINT)
        |           * (n - 1) * n_arm) AS BIGINT) AS xv,
        |         mean_milli_cents // 100 AS delta_milli_cents,
        |         varnum
        |  FROM d),
        |s0 AS (SELECT *, CAST(floor(sqrt(CAST(xv AS DOUBLE))) AS BIGINT)
        |         AS r0 FROM e),
        |s1 AS (SELECT *, r0 + (CASE WHEN CAST(r0 + 1 AS HUGEINT) * (r0 + 1)
        |         <= xv THEN 1 ELSE 0 END) AS r1 FROM s0),
        |s2 AS (SELECT *, r1 - (CASE WHEN CAST(r1 AS HUGEINT) * r1 > xv
        |         THEN 1 ELSE 0 END) AS sd2n_milli FROM s1)
        |SELECT n_users, n_arm, mean_milli_cents, var_cents2,
        |       delta_milli_cents,
        |       CAST(2802 * sd2n_milli // 1000 AS BIGINT) AS mde_milli_cents,
        |       CAST((2 * 7851204 * varnum + CAST(n_users AS HUGEINT)
        |         * (n_users - 1) * delta_milli_cents * delta_milli_cents
        |         - 1) // (CAST(n_users AS HUGEINT) * (n_users - 1)
        |         * delta_milli_cents * delta_milli_cents) AS BIGINT)
        |         AS n_required_per_arm
        |FROM s2""".stripMargin,
    "q_cem_att" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         max(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
        |               AND o_orderdate < TIMESTAMP '1995-07-01'
        |               THEN 1 ELSE 0 END) AS treated,
        |         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-07-01'
        |               AND o_orderdate < TIMESTAMP '1997-01-01'
        |               THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |               ELSE 0 END) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |j AS (SELECT p.*, c.c_mktsegment AS seg,
        |             (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000)
        |               // 200000 AS bal_b
        |      FROM per p JOIN customer c ON p.o_custkey = c.c_custkey),
        |strata AS (
        |  SELECT seg, bal_b,
        |         CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS nt,
        |         CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS nc,
        |         CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END)
        |           AS BIGINT) AS syt,
        |         CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END)
        |           AS BIGINT) AS syc
        |  FROM j GROUP BY 1, 2),
        |counts AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |         CAST(sum(CASE WHEN nt > 0 AND nc = 0 THEN nt ELSE 0 END)
        |           AS BIGINT) AS n_treated_pruned
        |  FROM strata),
        |matched AS (SELECT * FROM strata WHERE nt > 0 AND nc > 0),
        |mtot AS (SELECT CAST(sum(nt) AS BIGINT) AS ntm,
        |                CAST(sum(nc) AS BIGINT) AS ncm,
        |                CAST(sum(syt) AS BIGINT) AS sytm FROM matched),
        |cf AS (
        |  SELECT CAST(sum(CAST(syc AS HUGEINT) * 1000000 * nt
        |           // (CAST(nc AS HUGEINT) * ntm)) AS BIGINT) AS cf_micro,
        |         CAST(count(*) AS BIGINT) AS n_matched
        |  FROM matched CROSS JOIN mtot)
        |SELECT counts.n_strata, cf.n_matched, mtot.ntm AS n_treated_matched,
        |       mtot.ncm AS n_control_matched, counts.n_treated_pruned,
        |       CAST(CAST(sytm AS HUGEINT) * 1000000 // ntm AS BIGINT)
        |         AS treated_mean_micro,
        |       cf.cf_micro AS counterfactual_mean_micro,
        |       CAST(CAST(sytm AS HUGEINT) * 1000000 // ntm - cf_micro
        |         AS BIGINT) AS att_micro
        |FROM cf CROSS JOIN mtot CROSS JOIN counts""".stripMargin,
    "q_diff_in_diff" ->
      """WITH r AS (
        |  SELECT CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END AS p,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE year(o_orderdate) IN (1996, 1997)),
        |agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN g=1 AND p=0 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s10,
        |    CAST(sum(CASE WHEN g=1 AND p=1 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s11,
        |    CAST(sum(CASE WHEN g=0 AND p=0 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s00,
        |    CAST(sum(CASE WHEN g=0 AND p=1 THEN cents ELSE 0 END) AS BIGINT)
        |      AS s01,
        |    CAST(sum(CASE WHEN g=1 AND p=0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10,
        |    CAST(sum(CASE WHEN g=1 AND p=1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n11,
        |    CAST(sum(CASE WHEN g=0 AND p=0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n00,
        |    CAST(sum(CASE WHEN g=0 AND p=1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n01
        |  FROM r),
        |m AS (
        |  SELECT n10, n11, n00, n01,
        |    CAST(CAST(s10 AS HUGEINT) * 1000000 // n10 AS BIGINT)
        |      AS y_treated_pre_micro,
        |    CAST(CAST(s11 AS HUGEINT) * 1000000 // n11 AS BIGINT)
        |      AS y_treated_post_micro,
        |    CAST(CAST(s00 AS HUGEINT) * 1000000 // n00 AS BIGINT)
        |      AS y_control_pre_micro,
        |    CAST(CAST(s01 AS HUGEINT) * 1000000 // n01 AS BIGINT)
        |      AS y_control_post_micro
        |  FROM agg)
        |SELECT *, (y_treated_post_micro - y_treated_pre_micro)
        |        - (y_control_post_micro - y_control_pre_micro) AS did_micro
        |FROM m""".stripMargin,
    "q_forecast_backtest" ->
      """WITH monthly AS (
        |  SELECT ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)
        |           AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |mm AS (SELECT CAST(max(mo) AS BIGINT) AS max_mo FROM monthly),
        |pre AS (
        |  SELECT mo, y, max_mo,
        |         CAST(count(*) OVER win AS HUGEINT) AS n,
        |         CAST(coalesce(sum(mo) OVER win, 0) AS HUGEINT) AS sx,
        |         CAST(coalesce(sum(y) OVER win, 0) AS HUGEINT) AS sy,
        |         CAST(coalesce(sum(CAST(mo AS HUGEINT) * y) OVER win, 0)
        |           AS HUGEINT) AS sxy,
        |         CAST(coalesce(sum(CAST(mo AS HUGEINT) * mo) OVER win, 0)
        |           AS HUGEINT) AS sxx
        |  FROM monthly CROSS JOIN mm
        |  WINDOW win AS (ORDER BY mo
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |fit AS (
        |  SELECT mo, y AS y_cents,
        |         n * sxy - sx * sy AS b_num, sy * sxx - sx * sxy AS a_num,
        |         n * sxx - sx * sx AS d, CAST(mo AS HUGEINT) AS x
        |  FROM pre WHERE mo > max_mo - 12 AND n >= 2),
        |scored AS (
        |  SELECT mo, y_cents,
        |         CAST(CASE WHEN a_num + b_num * x >= 0
        |           THEN (a_num + b_num * x) // d
        |           ELSE -((-(a_num + b_num * x)) // d) END AS BIGINT)
        |           AS yhat_cents
        |  FROM fit)
        |SELECT mo, y_cents, yhat_cents, yhat_cents - y_cents AS err_cents
        |FROM scored""".stripMargin,
    "q_runs_test" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1992-01-01',
        |           CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY 1),
        |kt AS (SELECT CAST((count(*) + 1) // 2 AS BIGINT) AS k FROM daily),
        |med AS (
        |  SELECT cnt AS med FROM
        |    (SELECT cnt, row_number() OVER (ORDER BY cnt, d) AS rk
        |     FROM daily) r, kt WHERE r.rk = kt.k),
        |seq AS (
        |  SELECT d, CASE WHEN cnt > med THEN 1 ELSE 0 END AS above
        |  FROM daily, med WHERE cnt <> med),
        |runs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(above) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev <> above
        |           THEN 1 ELSE 0 END) AS BIGINT) AS runs
        |  FROM (SELECT above, lag(above) OVER (ORDER BY d) AS prev
        |        FROM seq))
        |SELECT n, n1, n - n1 AS n2, runs,
        |  CAST(CASE WHEN 2 * CAST(n1 AS HUGEINT) * (n - n1) - n <= 0
        |    THEN 0 ELSE
        |    (CAST(runs AS HUGEINT) * n - n
        |     - 2 * CAST(n1 AS HUGEINT) * (n - n1))
        |    * (CAST(runs AS HUGEINT) * n - n
        |     - 2 * CAST(n1 AS HUGEINT) * (n - n1))
        |    * (n - 1) * 1000
        |    // ((2 * CAST(n1 AS HUGEINT) * (n - n1))
        |    * (2 * CAST(n1 AS HUGEINT) * (n - n1) - n))
        |    END AS BIGINT) AS z2_milli
        |FROM runs""".stripMargin,
    "q_weighted_median" ->
      """WITH cells AS (
        |  SELECT l_returnflag AS mode,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT mode, cents, w,
        |         CAST(sum(w) OVER (PARTITION BY mode ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS cw,
        |         CAST(sum(w) OVER (PARTITION BY mode) AS BIGINT) AS tw
        |  FROM cells)
        |SELECT mode, CAST(min(cents) AS BIGINT) AS wmedian_cents,
        |       CAST(min(tw) AS BIGINT) AS total_qty
        |FROM cum WHERE cw * 2 >= tw GROUP BY 1""".stripMargin,
    "q_wilcoxon_signed" ->
      """WITH pairs AS (
        |  SELECT abs(y96 - y95) AS abs_d, (y96 > y95) AS is_pos
        |  FROM (
        |    SELECT l_partkey,
        |           sum(CASE WHEN year(l_shipdate) = 1995 THEN
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT) END) AS y95,
        |           sum(CASE WHEN year(l_shipdate) = 1996 THEN
        |             CAST(round(l_extendedprice * 100, 0) AS BIGINT) END) AS y96
        |    FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |    GROUP BY 1)
        |  WHERE y95 IS NOT NULL AND y96 IS NOT NULL AND y95 <> y96),
        |g AS (
        |  SELECT abs_d, CAST(count(*) AS BIGINT) AS t,
        |         CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT) AS pos
        |  FROM pairs GROUP BY 1),
        |cum AS (
        |  SELECT abs_d, t, pos,
        |         CAST(coalesce(sum(t) OVER (ORDER BY abs_d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cb
        |  FROM g),
        |w AS (SELECT CAST(sum(CAST(pos AS HUGEINT) * (2 * cb + t + 1))
        |        AS HUGEINT) AS two_w_plus FROM cum),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |               CAST(sum(pos) AS BIGINT) AS n_pos,
        |               CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
        |                 AS ties
        |        FROM g)
        |SELECT n, n_pos, CAST(two_w_plus AS BIGINT) AS two_w_plus,
        |  CAST(CASE WHEN 2 * two_w_plus - CAST(n AS HUGEINT) * (n + 1) >= 0
        |    THEN (2 * two_w_plus - CAST(n AS HUGEINT) * (n + 1)) * 1000000
        |         // (CAST(n AS HUGEINT) * (n + 1))
        |    ELSE -((CAST(n AS HUGEINT) * (n + 1) - 2 * two_w_plus) * 1000000
        |         // (CAST(n AS HUGEINT) * (n + 1))) END AS BIGINT)
        |    AS rank_biserial_ppm,
        |  CAST(CASE WHEN 2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1)
        |      - ties = 0 THEN 0 ELSE
        |    (2 * two_w_plus - CAST(n AS HUGEINT) * (n + 1))
        |    * (2 * two_w_plus - CAST(n AS HUGEINT) * (n + 1)) * 3000
        |    // (2 * CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) - ties)
        |    END AS BIGINT) AS z2_milli
        |FROM w CROSS JOIN tot""".stripMargin,
    "q_friedman" ->
      """WITH cells AS (
        |  SELECT ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)
        |           AS mo,
        |         o_orderpriority AS priority,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT priority) AS BIGINT) AS k
        |       FROM cells),
        |complete AS (
        |  SELECT mo, priority, y, k FROM (
        |    SELECT c.*, kk.k, count(*) OVER (PARTITION BY mo) AS nb
        |    FROM cells c CROSS JOIN kk) WHERE nb = k),
        |ranked AS (
        |  SELECT mo, priority, k,
        |         2 * rank() OVER (PARTITION BY mo ORDER BY y)
        |           + count(*) OVER (PARTITION BY mo, y) - 1 AS two_r
        |  FROM complete),
        |grp AS (
        |  SELECT priority, k, CAST(count(*) AS BIGINT) AS n_blocks,
        |         CAST(sum(two_r) AS BIGINT) AS s_j,
        |         CAST(sum(CAST(two_r AS HUGEINT) * two_r) AS HUGEINT) AS a2_j
        |  FROM ranked GROUP BY 1, 2),
        |q AS (
        |  SELECT CAST(CASE WHEN a2 - CAST(n_blocks AS HUGEINT) * k * (k + 1)
        |      * (k + 1) = 0 THEN 0 ELSE
        |    1000 * (k - 1) * num
        |    // (a2 - CAST(n_blocks AS HUGEINT) * k * (k + 1) * (k + 1))
        |    END AS BIGINT) AS q_milli
        |  FROM (SELECT k, n_blocks,
        |          sum((CAST(s_j AS HUGEINT)
        |               - CAST(n_blocks AS HUGEINT) * (k + 1))
        |            * (CAST(s_j AS HUGEINT)
        |               - CAST(n_blocks AS HUGEINT) * (k + 1))) AS num,
        |          sum(a2_j) AS a2
        |        FROM grp GROUP BY 1, 2))
        |SELECT g.priority, g.n_blocks, g.s_j AS two_r_sum,
        |       CAST(CAST(g.s_j AS HUGEINT) * 1000
        |         // (2 * CAST(g.n_blocks AS HUGEINT)) AS BIGINT)
        |         AS mean_rank_milli,
        |       q.q_milli
        |FROM grp g CROSS JOIN q""".stripMargin,
    "q_page_trend" ->
      """WITH cells AS (
        |  SELECT ((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1)
        |           AS mo,
        |         o_orderpriority AS priority,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT priority) AS BIGINT) AS k
        |       FROM cells),
        |complete AS (
        |  SELECT mo, priority, y, k FROM (
        |    SELECT c.*, kk.k, count(*) OVER (PARTITION BY mo) AS nb
        |    FROM cells c CROSS JOIN kk) WHERE nb = k),
        |ranked AS (
        |  SELECT mo, priority, k,
        |         2 * rank() OVER (PARTITION BY mo ORDER BY y)
        |           + count(*) OVER (PARTITION BY mo, y) - 1 AS two_r
        |  FROM complete),
        |grp AS (
        |  SELECT priority, k, CAST(count(*) AS BIGINT) AS n_blocks,
        |         CAST(sum(two_r) AS BIGINT) AS s_j
        |  FROM ranked GROUP BY 1, 2),
        |lt AS (
        |  SELECT k, n_blocks,
        |         CAST(sum(CAST(CAST(substr(priority, 1, 1) AS BIGINT)
        |             AS HUGEINT) * s_j) AS HUGEINT) AS two_l
        |  FROM grp GROUP BY 1, 2),
        |lz AS (
        |  SELECT CAST(two_l AS BIGINT) AS two_l,
        |         CAST(CAST(n_blocks AS HUGEINT) * k * (k + 1) * (k + 1)
        |           // 2 AS BIGINT) AS two_e_l,
        |         CAST(CASE WHEN n_blocks = 0 OR k <= 1 THEN 0 ELSE
        |           36000 * (two_l - CAST(n_blocks AS HUGEINT) * k * (k + 1)
        |                    * (k + 1) // 2)
        |                 * (two_l - CAST(n_blocks AS HUGEINT) * k * (k + 1)
        |                    * (k + 1) // 2)
        |           // (CAST(n_blocks AS HUGEINT) * k * k * (k + 1) * (k + 1)
        |              * (k - 1)) END AS BIGINT) AS z2_milli
        |  FROM lt)
        |SELECT g.priority, CAST(substr(g.priority, 1, 1) AS BIGINT) AS j,
        |       g.n_blocks, g.s_j AS two_r_sum,
        |       l.two_l, l.two_e_l, l.z2_milli
        |FROM grp g CROSS JOIN lz l""".stripMargin,
    "q_anova_f" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT priority, CAST(count(*) AS HUGEINT) AS n_j,
        |         CAST(sum(cents) AS HUGEINT) AS s_j,
        |         CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q_j
        |  FROM o GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_j) AS HUGEINT) AS n,
        |         CAST(sum(s_j) AS HUGEINT) AS s,
        |         CAST(sum(q_j) AS HUGEINT) AS q,
        |         CAST(count(*) AS HUGEINT) AS k,
        |         CAST(sum(s_j * s_j // (n_j * 1000000)) AS HUGEINT) AS sb
        |  FROM g),
        |f AS (
        |  SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |         CAST(sb - s * s // (n * 1000000) AS BIGINT) AS ssb_kc2,
        |         CAST(q // 1000000 - sb AS BIGINT) AS ssw_kc2,
        |         CAST(CASE WHEN q // 1000000 - sb <= 0 OR k <= 1
        |             OR n <= k THEN 0 ELSE
        |           (sb - s * s // (n * 1000000)) * (n - k) * 1000
        |           // ((q // 1000000 - sb) * (k - 1)) END AS BIGINT)
        |           AS f_milli
        |  FROM tot)
        |SELECT g.priority, CAST(g.n_j AS BIGINT) AS n_j,
        |       CAST(g.s_j * 1000 // g.n_j AS BIGINT) AS mean_cents_milli,
        |       f.ssb_kc2, f.ssw_kc2, f.f_milli
        |FROM g CROSS JOIN f""".stripMargin,
    "q_welch_t" ->
      """WITH o AS (
        |  SELECT CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 2 END
        |           AS side,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |t AS (
        |  SELECT CAST(count(*) FILTER (WHERE side = 1) AS HUGEINT) AS n1,
        |         CAST(count(*) FILTER (WHERE side = 2) AS HUGEINT) AS n2,
        |         CAST(sum(CASE WHEN side = 1 THEN cents ELSE 0 END)
        |           AS HUGEINT) AS s1,
        |         CAST(sum(CASE WHEN side = 2 THEN cents ELSE 0 END)
        |           AS HUGEINT) AS s2,
        |         CAST(sum(CASE WHEN side = 1
        |             THEN CAST(cents AS HUGEINT) * cents ELSE 0 END)
        |           AS HUGEINT) AS q1,
        |         CAST(sum(CASE WHEN side = 2
        |             THEN CAST(cents AS HUGEINT) * cents ELSE 0 END)
        |           AS HUGEINT) AS q2
        |  FROM o),
        |v AS (
        |  SELECT n1, n2, s1, s2,
        |         (n1 * q1 - s1 * s1) // (n1 * (n1 - 1)) AS v1,
        |         (n2 * q2 - s2 * s2) // (n2 * (n2 - 1)) AS v2
        |  FROM t),
        |d AS (
        |  SELECT n1, n2, v1, v2,
        |         CASE WHEN s1 * n2 - s2 * n1 >= 0
        |           THEN (s1 * n2 - s2 * n1) * 1000 // (n1 * n2)
        |           ELSE -((s2 * n1 - s1 * n2) * 1000 // (n1 * n2)) END
        |           AS d_milli,
        |         v1 // n1 + v2 // n2 AS se2,
        |         v1 // n1 // 1000 AS ak,
        |         v2 // n2 // 1000 AS bk
        |  FROM v)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |       CAST(v1 AS BIGINT) AS var1_cents2,
        |       CAST(v2 AS BIGINT) AS var2_cents2,
        |       CAST(d_milli AS BIGINT) AS mean_diff_milli,
        |       CAST(CASE WHEN se2 <= 0 THEN 0 ELSE
        |         d_milli * d_milli // (1000 * se2) END AS BIGINT) AS t2_milli,
        |       CAST(CASE WHEN ak * ak // (n1 - 1)
        |           + bk * bk // (n2 - 1) <= 0 THEN 0 ELSE
        |         (ak + bk) * (ak + bk) * 1000 // (ak * ak // (n1 - 1)
        |           + bk * bk // (n2 - 1)) END AS BIGINT)
        |         AS df_milli
        |FROM d""".stripMargin,
    "q_jackknife" ->
      """WITH per AS (
        |  SELECT o_custkey AS c,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
        |               CAST(sum(y) AS BIGINT) AS sy,
        |               CAST(count(*) AS BIGINT) AS n FROM per),
        |reps AS (
        |  SELECT n, sx, sy,
        |         (CAST(sx AS HUGEINT) - x) * 1000 // (sy - y) AS m
        |  FROM per CROSS JOIN tot),
        |agg AS (SELECT n, sx, sy, CAST(sum(m) AS HUGEINT) AS sm,
        |               CAST(sum(m * m) AS HUGEINT) AS sm2
        |        FROM reps GROUP BY 1, 2, 3)
        |SELECT n,
        |  CAST(CAST(sx AS HUGEINT) * 1000 // sy AS BIGINT) AS r_milli,
        |  CAST(sm // n AS BIGINT) AS mean_loo_milli,
        |  CAST(((CAST(n AS HUGEINT) * sm2 - sm * sm) // n) * (n - 1) // n
        |    AS BIGINT) AS jk_var_milli2,
        |  CAST(CASE WHEN sm - CAST(n AS HUGEINT)
        |      * (CAST(sx AS HUGEINT) * 1000 // sy) >= 0
        |    THEN (n - 1) * (sm - CAST(n AS HUGEINT)
        |      * (CAST(sx AS HUGEINT) * 1000 // sy)) // n
        |    ELSE -((n - 1) * (CAST(n AS HUGEINT)
        |      * (CAST(sx AS HUGEINT) * 1000 // sy) - sm) // n) END AS BIGINT)
        |    AS jk_bias_milli
        |FROM agg""".stripMargin,
    "q_kruskal_wallis" ->
      """WITH cells AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         o_orderpriority AS priority,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |vals AS (
        |  SELECT cents, t,
        |         CAST(coalesce(sum(t) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cb
        |  FROM (SELECT cents, CAST(sum(c) AS BIGINT) AS t
        |        FROM cells GROUP BY 1)),
        |grp AS (
        |  SELECT priority, CAST(sum(c) AS BIGINT) AS n_j,
        |         CAST(sum(CAST(c AS HUGEINT) * (2 * cb + t + 1))
        |           AS HUGEINT) AS two_r
        |  FROM cells JOIN vals USING (cents) GROUP BY 1),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |               CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
        |                 AS ties
        |        FROM vals),
        |h AS (
        |  SELECT CAST((sum(two_r * two_r * 3000
        |                   // (CAST(n AS HUGEINT) * (n + 1) * n_j))
        |               - 3000 * (CAST(n AS HUGEINT) + 1))
        |              * (CAST(n AS HUGEINT) * n * n - n)
        |              // ((CAST(n AS HUGEINT) * n * n - n) - ties)
        |           AS BIGINT) AS h_milli
        |  FROM grp CROSS JOIN tot GROUP BY n, ties)
        |SELECT g.priority, g.n_j, CAST(g.two_r AS BIGINT) AS two_r,
        |       CAST(g.two_r * 1000 // (2 * CAST(g.n_j AS HUGEINT))
        |         AS BIGINT) AS mean_rank_milli,
        |       h.h_milli
        |FROM grp g CROSS JOIN h""".stripMargin,
    "q_mann_whitney" ->
      """WITH s AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 2 END AS side
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |g AS (
        |  SELECT cents,
        |         CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS c1,
        |         CAST(count(*) FILTER (WHERE side = 2) AS BIGINT) AS c2
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT cents, c1, c2,
        |         CAST(coalesce(sum(c2) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cb2
        |  FROM g),
        |u AS (SELECT CAST(sum(CAST(c1 AS HUGEINT) * (2 * cb2 + c2))
        |        AS HUGEINT) AS u1_x2 FROM c),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2,
        |             CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2)
        |                  * (c1 + c2) - (c1 + c2)) AS HUGEINT) AS ties
        |      FROM g)
        |SELECT CAST(u1_x2 AS BIGINT) AS u1_x2, n1, n2,
        |       CAST(u1_x2 * 1000000
        |            // (2 * CAST(n1 AS HUGEINT) * n2) AS BIGINT)
        |         AS cles_ppm,
        |       CAST(CASE WHEN (CAST(n1 + n2 AS HUGEINT) * (n1 + n2)
        |              * (n1 + n2) - (n1 + n2)) - ties = 0 THEN 0 ELSE
        |            (u1_x2 - CAST(n1 AS HUGEINT) * n2)
        |            * (u1_x2 - CAST(n1 AS HUGEINT) * n2)
        |            * 3 * (n1 + n2) * (n1 + n2 - 1) * 1000
        |            // (CAST(n1 AS HUGEINT) * n2 *
        |               ((CAST(n1 + n2 AS HUGEINT) * (n1 + n2) * (n1 + n2)
        |                 - (n1 + n2)) - ties)) END AS BIGINT) AS z2_milli
        |FROM u CROSS JOIN t""".stripMargin,
    "q_theil_sen" ->
      """WITH monthly AS (
        |  SELECT ((year(o_orderdate) - 1992) * 12
        |          + month(o_orderdate) - 1) AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |pairs AS (
        |  SELECT i.mo AS mi, j.mo AS mj,
        |         CAST(CASE WHEN j.y >= i.y
        |              THEN CAST(j.y - i.y AS HUGEINT) * 1000000
        |                   // (j.mo - i.mo)
        |              ELSE -(CAST(i.y - j.y AS HUGEINT) * 1000000
        |                     // (j.mo - i.mo)) END AS BIGINT)
        |           AS slope_micro
        |  FROM monthly i JOIN monthly j ON i.mo < j.mo),
        |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
        |ols AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_months,
        |         CAST(CASE WHEN CAST(count(*) AS HUGEINT) *
        |                sum(CAST(mo AS HUGEINT) * y)
        |                - CAST(sum(mo) AS HUGEINT) * sum(y) >= 0
        |           THEN (CAST(count(*) AS HUGEINT) *
        |                 sum(CAST(mo AS HUGEINT) * y)
        |                 - CAST(sum(mo) AS HUGEINT) * sum(y)) * 1000000
        |                // (CAST(count(*) AS HUGEINT) *
        |                    sum(CAST(mo AS HUGEINT) * mo)
        |                    - CAST(sum(mo) AS HUGEINT) * sum(mo))
        |           ELSE -((CAST(sum(mo) AS HUGEINT) * sum(y)
        |                   - CAST(count(*) AS HUGEINT) *
        |                     sum(CAST(mo AS HUGEINT) * y)) * 1000000
        |                  // (CAST(count(*) AS HUGEINT) *
        |                      sum(CAST(mo AS HUGEINT) * mo)
        |                      - CAST(sum(mo) AS HUGEINT) * sum(mo)))
        |           END AS BIGINT) AS ols_micro
        |  FROM monthly),
        |ranked AS (
        |  SELECT slope_micro,
        |         row_number() OVER (ORDER BY slope_micro, mi, mj) AS rk
        |  FROM pairs)
        |SELECT o.n_months, p.n_pairs,
        |       r.slope_micro AS theil_sen_micro, o.ols_micro
        |FROM ranked r CROSS JOIN pt p CROSS JOIN ols o
        |WHERE r.rk = (p.n_pairs + 1) // 2""".stripMargin,
    "q_conformal_interval" ->
      """WITH monthly AS (
        |  SELECT ((year(o_orderdate) - 1992) * 12
        |          + month(o_orderdate) - 1) AS mo,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |f0 AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |         CAST(sum(mo) AS HUGEINT) AS sx,
        |         CAST(sum(y) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(mo AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |         CAST(sum(CAST(mo AS HUGEINT) * mo) AS HUGEINT) AS sxx
        |  FROM monthly WHERE mo % 2 = 0),
        |fit AS (SELECT sy * sxx - sx * sxy AS a_num,
        |               n * sxy - sx * sy AS b_num,
        |               n * sxx - sx * sx AS d
        |        FROM f0),
        |wp AS (
        |  SELECT m.mo, m.y, a_num + b_num * m.mo AS n_x, d,
        |         abs(CAST(m.y AS HUGEINT) * d
        |             - (a_num + b_num * m.mo)) AS res_scaled
        |  FROM monthly m CROSS JOIN fit),
        |kt AS (SELECT CAST((count(*) + 1) * 9 + 9 AS BIGINT) // 10 AS k
        |       FROM wp WHERE mo % 2 = 1),
        |qt AS (
        |  SELECT w.res_scaled AS q_scaled
        |  FROM (SELECT res_scaled,
        |               row_number() OVER (ORDER BY res_scaled) AS rk
        |        FROM wp WHERE mo % 2 = 1) w, kt
        |  WHERE w.rk = kt.k)
        |SELECT CAST(mo AS BIGINT) AS mo, y, (mo % 2 = 1) AS is_cal,
        |       CAST(CASE WHEN n_x >= 0 THEN n_x * 1000000 // d
        |            ELSE -((-n_x) * 1000000 // d) END AS BIGINT)
        |         AS yhat_micro,
        |       CAST(CASE WHEN n_x - q_scaled >= 0
        |            THEN (n_x - q_scaled) * 1000000 // d
        |            ELSE -((q_scaled - n_x) * 1000000 // d) END AS BIGINT)
        |         AS lo_micro,
        |       CAST(CASE WHEN n_x + q_scaled >= 0
        |            THEN (n_x + q_scaled) * 1000000 // d
        |            ELSE -((-(n_x + q_scaled)) * 1000000 // d) END AS BIGINT)
        |         AS hi_micro,
        |       CAST(CASE WHEN abs(CAST(y AS HUGEINT) * d - n_x) <= q_scaled
        |            THEN 1 ELSE 0 END AS BIGINT) AS covered
        |FROM wp CROSS JOIN qt""".stripMargin,
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS x
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT)
        |        AS s FROM daily),
        |p AS (SELECT day, x, n, s,
        |             sum(CAST(n AS HUGEINT) * x - s - s // 50) OVER (
        |               ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS pref
        |      FROM daily CROSS JOIN t),
        |m AS (SELECT day, x, n, s,
        |             pref - least(min(pref) OVER (ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |               0) AS s_t
        |      FROM p)
        |SELECT day, x AS total_cents, CAST(s_t // n AS BIGINT) AS cusum_cents,
        |       s_t > CAST(s AS HUGEINT) // 4 AS alarm
        |FROM m""".stripMargin,
    "q_rolling_slope" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS y
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, y,
        |             CAST(count(*) OVER fr AS BIGINT) AS wn,
        |             sum(CAST(day AS HUGEINT)) OVER fr AS sx,
        |             sum(CAST(y AS HUGEINT)) OVER fr AS sy,
        |             sum(CAST(day AS HUGEINT) * y) OVER fr AS sxy,
        |             sum(CAST(day AS HUGEINT) * day) OVER fr AS sxx
        |      FROM daily
        |      WINDOW fr AS (ORDER BY day
        |        ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT day, y AS total_cents, CAST(wn AS INT) AS n_days,
        |       CAST(CASE WHEN wn * sxy - sx * sy >= 0
        |            THEN (wn * sxy - sx * sy) * 1000000
        |                 // (wn * sxx - sx * sx)
        |            ELSE -(((sx * sy - wn * sxy) * 1000000)
        |                 // (wn * sxx - sx * sx)) END AS BIGINT)
        |         AS slope_micro
        |FROM w WHERE wn >= 2""".stripMargin,
    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS x
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT)
        |        AS s FROM daily),
        |l AS (SELECT day, x,
        |             lag(x, 1) OVER (ORDER BY day) AS x_1,
        |             lag(x, 7) OVER (ORDER BY day) AS x_7
        |      FROM daily),
        |d AS (SELECT sum((CAST(n AS HUGEINT) * x - s)
        |               * (CAST(n AS HUGEINT) * x - s)) AS den
        |      FROM l CROSS JOIN t),
        |r1 AS (SELECT 1 AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |              sum((CAST(n AS HUGEINT) * x - s)
        |                * (CAST(n AS HUGEINT) * x_1 - s)) AS num
        |       FROM l CROSS JOIN t WHERE x_1 IS NOT NULL),
        |r7 AS (SELECT 7 AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |              sum((CAST(n AS HUGEINT) * x - s)
        |                * (CAST(n AS HUGEINT) * x_7 - s)) AS num
        |       FROM l CROSS JOIN t WHERE x_7 IS NOT NULL),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r7)
        |SELECT lag, n_pairs,
        |       CAST(CASE WHEN num >= 0 THEN num * 1000000 // den
        |            ELSE -((-num * 1000000) // den) END AS BIGINT)
        |         AS autocorr_micro
        |FROM u CROSS JOIN d""".stripMargin,
    "q_ts_similarity" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) // 1000
        |           AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |norms AS (SELECT event_type, CAST(sum(v * v) AS BIGINT) AS norm,
        |                 CAST(count(*) AS BIGINT) AS n_days
        |          FROM daily GROUP BY 1),
        |dots AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(sum(a.v * b.v) AS BIGINT) AS dot,
        |         CAST(count(*) AS BIGINT) AS shared_days
        |  FROM daily a JOIN daily b
        |    ON a.day = b.day AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, shared_days,
        |       nna.n_days AS days_a, nnb.n_days AS days_b,
        |       nna.norm + nnb.norm - 2 * dot AS dist2
        |FROM dots
        |JOIN norms nna ON nna.event_type = type_a
        |JOIN norms nnb ON nnb.event_type = type_b""".stripMargin,
    "q_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey,
        |         max(date_diff('day', DATE '1992-01-01',
        |             CAST(o_orderdate AS DATE))) AS last_day,
        |         CAST(count(*) AS BIGINT) AS freq,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS monetary
        |  FROM orders GROUP BY 1),
        |a AS (SELECT max(last_day) AS as_of FROM pc),
        |c AS (SELECT o_custkey, as_of - last_day AS rec, freq, monetary
        |      FROM pc CROSS JOIN a),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_cust FROM c),
        |s AS (SELECT freq, monetary,
        |        5 - CAST((5 * (row_number() OVER (ORDER BY rec, o_custkey)
        |              - 1)) // n_cust AS INT) AS r_score,
        |        5 - CAST((5 * (row_number() OVER (ORDER BY freq DESC,
        |              o_custkey) - 1)) // n_cust AS INT) AS f_score,
        |        5 - CAST((5 * (row_number() OVER (ORDER BY monetary DESC,
        |              o_custkey) - 1)) // n_cust AS INT) AS m_score
        |      FROM c CROSS JOIN n)
        |SELECT r_score, f_score, m_score,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(monetary) // count(*) AS BIGINT)
        |         AS avg_monetary_cents,
        |       CAST(sum(freq) * 1000000 // count(*) AS BIGINT)
        |         AS avg_freq_micro
        |FROM s GROUP BY 1, 2, 3""".stripMargin,
    "q_survival_curve" ->
      """WITH l AS (
        |  SELECT user_id,
        |         (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 604800000000000
        |           AS life_weeks
        |  FROM events GROUP BY 1),
        |h AS (SELECT life_weeks, CAST(count(*) AS BIGINT) AS n_at
        |      FROM l GROUP BY 1),
        |t AS (SELECT CAST(sum(n_at) AS BIGINT) AS n_users FROM h)
        |SELECT life_weeks AS k_weeks,
        |       CAST(sum(n_at) OVER (ORDER BY life_weeks DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS n_surviving,
        |       CAST(CAST(sum(n_at) OVER (ORDER BY life_weeks DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS HUGEINT) * 1000000 // n_users AS BIGINT) AS share_ppm
        |FROM h CROSS JOIN t""".stripMargin,
    "q_ab_test" ->
      """WITH e AS (
        |  SELECT user_id % 2 = 0 AS is_a,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
        |  FROM events),
        |s AS (SELECT
        |        CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(sum(CASE WHEN is_a THEN hit ELSE 0 END) AS BIGINT) AS x_a,
        |        CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_b,
        |        CAST(sum(CASE WHEN NOT is_a THEN hit ELSE 0 END) AS BIGINT)
        |          AS x_b
        |      FROM e)
        |SELECT n_a, x_a, n_b, x_b,
        |       CAST(CAST(x_a AS HUGEINT) * 1000000 // n_a AS BIGINT)
        |         AS rate_a_ppm,
        |       CAST(CAST(x_b AS HUGEINT) * 1000000 // n_b AS BIGINT)
        |         AS rate_b_ppm,
        |       CAST(CAST(n_a + n_b AS HUGEINT) * 1000
        |         * (CAST(x_a AS HUGEINT) * (n_b - x_b)
        |            - CAST(x_b AS HUGEINT) * (n_a - x_a))
        |         * (CAST(x_a AS HUGEINT) * (n_b - x_b)
        |            - CAST(x_b AS HUGEINT) * (n_a - x_a))
        |         // (CAST(n_a AS HUGEINT) * n_b * (x_a + x_b)
        |             * (n_a + n_b - x_a - x_b)) AS BIGINT) AS chi2_milli,
        |       CAST(CAST(n_a + n_b AS HUGEINT) * 1000
        |         * (CAST(x_a AS HUGEINT) * (n_b - x_b)
        |            - CAST(x_b AS HUGEINT) * (n_a - x_a))
        |         * (CAST(x_a AS HUGEINT) * (n_b - x_b)
        |            - CAST(x_b AS HUGEINT) * (n_a - x_a))
        |         // (CAST(n_a AS HUGEINT) * n_b * (x_a + x_b)
        |             * (n_a + n_b - x_a - x_b)) AS BIGINT) > 3841
        |         AS significant
        |FROM s""".stripMargin,
    "q_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s AS (SELECT
        |        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_a,
        |        CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_b
        |      FROM u)
        |SELECT n_a, n_b,
        |       CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000
        |         // (n_a + n_b) AS BIGINT) AS chi2_milli,
        |       CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000
        |         // (n_a + n_b) AS BIGINT) > 3841 AS srm_detected
        |FROM s""".stripMargin,
    "q_benford" ->
      """WITH c AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0)
        |           AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |b AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |        (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |        (9, 45757)) AS v(digit, benford_ppm))
        |SELECT c.digit, c.n, n * 1000000 // total AS observed_ppm,
        |       CAST(benford_ppm AS BIGINT) AS benford_ppm,
        |       abs(n * 1000000 // total - benford_ppm) AS dev_ppm
        |FROM c CROSS JOIN t JOIN b ON b.digit = c.digit""".stripMargin,
    "q_revenue_lorenz" ->
      """WITH u AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |             row_number() OVER (ORDER BY cents DESC, o_custkey) - 1
        |               AS rank_before,
        |             CAST(count(*) OVER () AS BIGINT) AS n_users_total,
        |             CAST(sum(cents) OVER () AS BIGINT) AS rev_total
        |      FROM u),
        |d AS (SELECT CAST((10 * rank_before) // n_users_total AS INT)
        |               AS decile,
        |             CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(sum(cents) AS BIGINT) AS revenue_cents,
        |             max(rev_total) AS rev_total
        |      FROM r GROUP BY 1)
        |SELECT decile, n_users, revenue_cents,
        |       CAST(CAST(revenue_cents AS HUGEINT) * 1000000 // rev_total
        |         AS BIGINT) AS share_ppm,
        |       CAST(CAST(sum(revenue_cents) OVER (ORDER BY decile
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS HUGEINT) * 1000000 // rev_total
        |         AS BIGINT) AS cum_share_ppm
        |FROM d""".stripMargin,
    "q_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |           AS x
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT day, day % 7 AS dow, x FROM daily),
        |base AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
        |                CAST(sum(x) AS BIGINT) AS s,
        |                sum(CAST(x AS HUGEINT) * x) AS q
        |         FROM d2 GROUP BY 1)
        |SELECT day, dow, x AS total_cents, n AS n_days_in_dow,
        |       (CAST(n AS HUGEINT) * x - s) > 0 AS is_high
        |FROM d2 JOIN base USING (dow)
        |WHERE 4 * (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)
        |      > 9 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)""".stripMargin,
    "q_changepoint" ->
      """WITH m AS (
        |  SELECT (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
        |           AS mo,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT mo, CAST(sum(cents) AS BIGINT) AS rev FROM m GROUP BY 1),
        |p AS (SELECT mo,
        |             CAST(count(*) OVER wo AS BIGINT) AS n1,
        |             CAST(sum(rev) OVER wo AS BIGINT) AS s1
        |      FROM g
        |      WINDOW wo AS (ORDER BY mo
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s,
        |             sum(CAST(rev AS HUGEINT) * rev) AS q
        |      FROM g),
        |c AS (SELECT mo AS break_mo, n1, n - n1 AS n2, s1, s - s1 AS s2,
        |             n, s, q
        |      FROM p CROSS JOIN t WHERE n1 >= 3 AND n1 <= n - 3)
        |SELECT break_mo, n1, n2,
        |       s1 // n1 AS mean1_cents, s2 // n2 AS mean2_cents,
        |       CAST((n * (CAST(s1 AS HUGEINT) * s1 * n2
        |                  + CAST(s2 AS HUGEINT) * s2 * n1)
        |             - CAST(s AS HUGEINT) * s * n1 * n2) * 1000000
        |         // (CAST(n1 AS HUGEINT) * n2
        |             * (n * q - CAST(s AS HUGEINT) * s)) AS BIGINT)
        |         AS r2_ppm
        |FROM c
        |ORDER BY r2_ppm DESC, break_mo
        |LIMIT 1""".stripMargin,
    "q_interarrival_fano" ->
      """WITH g AS (
        |  SELECT event_type,
        |         (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (
        |            PARTITION BY user_id, event_type
        |            ORDER BY ts, event_id)) // 1000000000 AS gap_s
        |  FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |             CAST(sum(gap_s) AS BIGINT) AS s,
        |             sum(CAST(gap_s AS HUGEINT) * gap_s) AS q
        |      FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps,
        |       CAST(CAST(s AS HUGEINT) * 1000000 // n_gaps AS BIGINT)
        |         AS mean_gap_s_micro,
        |       CAST((CAST(n_gaps AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |         * 1000000 // (CAST(n_gaps AS HUGEINT) * s) AS BIGINT)
        |         AS fano_micro
        |FROM a""".stripMargin,
    "q_neyman_alloc" ->
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(n_chars) AS HUGEINT) AS sx,
         |         sum(CAST(n_chars AS HUGEINT) * n_chars) AS sx2
         |  FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n,
         |         CAST(floor(sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)) + 0.5)
         |              AS BIGINT) AS w
         |  FROM per),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM w),
         |q AS (
         |  SELECT source, n, w,
         |         CAST(CAST($NeymanBudget AS HUGEINT) * w // wt AS BIGINT)
         |           AS quota,
         |         CAST(CAST($NeymanBudget AS HUGEINT) * w % wt AS BIGINT)
         |           AS rem
         |  FROM w, t),
         |l AS (SELECT $NeymanBudget - CAST(sum(quota) AS BIGINT) AS lo FROM q),
         |r AS (
         |  SELECT q.*, row_number() OVER (ORDER BY rem DESC, source) AS rk
         |  FROM q)
         |SELECT source, n, w, quota,
         |       CAST(CASE WHEN rk <= l.lo THEN 1 ELSE 0 END AS BIGINT) AS extra,
         |       CAST(quota + CASE WHEN rk <= l.lo THEN 1 ELSE 0 END AS BIGINT)
         |         AS alloc
         |FROM r CROSS JOIN l""".stripMargin,
    "q_bootstrap_means" ->
      s"""WITH s AS (
         |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         |         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
         |              AS BIGINT) AS h
         |  FROM orders),
         |reps AS (SELECT unnest(range(0, $BootstrapReps)) AS r),
         |m AS (SELECT reps.r, s.cents FROM s, reps WHERE ((h >> r) & 1) = 1)
         |SELECT r, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(cents) AS BIGINT) AS sum_cents,
         |       CAST(CAST(sum(cents) AS BIGINT) // count(*) AS BIGINT) AS mean_cents
         |FROM m GROUP BY r""".stripMargin,
    "q_ks_drift" ->
      """WITH s AS (
        |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |         CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 2 END AS side
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |g AS (
        |  SELECT cents,
        |         CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS c1,
        |         CAST(count(*) FILTER (WHERE side = 2) AS BIGINT) AS c2
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT cents,
        |         CAST(sum(c1) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
        |         CAST(sum(c2) OVER (ORDER BY cents
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
        |  FROM g),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM g)
        |SELECT n1, n2,
        |       CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS ks_num,
        |       CAST((1000000 * max(abs(f1 * n2 - f2 * n1))) // (n1 * n2)
        |            AS BIGINT) AS ks_ppm
        |FROM c, t GROUP BY n1, n2""".stripMargin,
    // Sign/abs split keeps `//` (floor) and `div` (trunc) identical.
    "q_trend_slope" ->
      """WITH m AS (
        |  SELECT o_orderpriority AS priority,
        |         (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS mo,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT priority, mo, CAST(sum(cents) AS BIGINT) AS rev
        |      FROM m GROUP BY 1, 2),
        |s AS (SELECT priority,
        |             CAST(count(*) AS HUGEINT) AS n,
        |             CAST(sum(mo) AS HUGEINT) AS sx,
        |             CAST(sum(rev) AS HUGEINT) AS sy,
        |             CAST(sum(CAST(mo AS HUGEINT) * rev) AS HUGEINT) AS sxy,
        |             CAST(sum(CAST(mo AS HUGEINT) * mo) AS HUGEINT) AS sxx
        |      FROM g GROUP BY 1)
        |SELECT priority, CAST(n AS BIGINT) AS n_months,
        |       CAST(sy AS BIGINT) AS total_cents,
        |       CAST(CASE WHEN n * sxy - sx * sy >= 0
        |            THEN ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
        |            ELSE -(((sx * sy - n * sxy) * 1000000) // (n * sxx - sx * sx))
        |            END AS BIGINT) AS slope_micro
        |FROM s""".stripMargin,
    "q_spearman_corr" ->
      """WITH per AS (
        |  SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS x,
        |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |r AS (SELECT ck,
        |             row_number() OVER (ORDER BY x, ck) - 1 AS rx0,
        |             row_number() OVER (ORDER BY y, ck) - 1 AS ry0
        |      FROM per),
        |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |             CAST(sum(CAST(rx0 - ry0 AS HUGEINT) * (rx0 - ry0)) AS HUGEINT) AS sd2
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_customers, CAST(sd2 AS BIGINT) AS sum_d2,
        |       CAST(CASE WHEN n * (n * n - 1) = 0 THEN 1000000
        |            WHEN n * (n * n - 1) - 6 * sd2 >= 0
        |            THEN ((n * (n * n - 1) - 6 * sd2) * 1000000) // (n * (n * n - 1))
        |            ELSE -(((6 * sd2 - n * (n * n - 1)) * 1000000) // (n * (n * n - 1)))
        |            END AS BIGINT) AS rho_micro
        |FROM s""".stripMargin,
    "q_gini_hhi" ->
      """WITH c AS (SELECT lang, source, count(*) AS c
        |           FROM documents GROUP BY 1, 2),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |             CAST(sum(c) AS HUGEINT) AS n_docs,
        |             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
        |      FROM c GROUP BY 1)
        |SELECT lang, n_sources, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST((s2 * 1000000) // (n_docs * n_docs) AS BIGINT) AS hhi_ppm,
        |       CAST(1000000 - (s2 * 1000000) // (n_docs * n_docs) AS BIGINT)
        |         AS gini_ppm
        |FROM g""".stripMargin,
    "q_quality_selectivity" ->
      """WITH d AS (
        |  SELECT CAST(length(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
        |           AS n_tokens,
        |         CAST(length(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |              t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |           AS n_stop
        |  FROM documents),
        |p AS (SELECT n_tokens,
        |             (n_stop * 1000000) // greatest(n_tokens, 1) AS ratio_ppm
        |      FROM d),
        |b AS (SELECT least(ratio_ppm // 50000, 19) AS bucket,
        |             CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_tokens) AS BIGINT) AS n_toks
        |      FROM p GROUP BY 1),
        |c AS (SELECT b1.bucket, b1.n_docs, b1.n_toks,
        |             CAST(sum(b2.n_docs) AS BIGINT) AS docs_kept,
        |             CAST(sum(b2.n_toks) AS BIGINT) AS tokens_kept
        |      FROM b b1 JOIN b b2 ON b2.bucket <= b1.bucket
        |      GROUP BY 1, 2, 3)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST((bucket + 1) * 50000 AS BIGINT) AS threshold_ppm,
        |       n_docs, n_toks AS n_tokens, docs_kept, tokens_kept
        |FROM c""".stripMargin,
    "q_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM d),
        |g AS (SELECT doc_id, source, n_chars,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY n_chars, doc_id) - 1 AS rk0,
        |             count(*) OVER (PARTITION BY source) AS m
        |      FROM d),
        |v AS (SELECT n_chars AS norm_chars,
        |             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS grk0
        |      FROM d)
        |SELECT g.doc_id, g.source, g.n_chars, v.norm_chars
        |FROM g, t, v
        |WHERE v.grk0 = CASE WHEN g.m = 1 THEN (t.nt - 1) // 2
        |               ELSE (CAST(g.rk0 AS HUGEINT) * (t.nt - 1)) // (g.m - 1)
        |               END""".stripMargin,
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars AS weight,
        |         CAST(CAST(('0x' || substr(md5('ws_' || CAST(doc_id AS VARCHAR)),
        |              1, 12)) AS BIGINT) AS HUGEINT) AS u
        |  FROM documents)
        |SELECT doc_id, weight,
        |       CAST((u * 10000) // greatest(CAST(weight AS HUGEINT), 1)
        |         AS BIGINT) AS priority
        |FROM d ORDER BY priority, doc_id LIMIT 100""".stripMargin)
}
