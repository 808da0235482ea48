package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the trade network: PageRank by iterative
  * distributed message passing — the weighted-propagation counterpart
  * of [[Dedup.connectedComponents]]'s label propagation.
  *
  * All mass arithmetic is exact integer micro-units (10¹² total mass,
  * floor division at every split), so after any fixed number of
  * iterations the result is bit-identical across engines, runs and
  * partitionings — the DuckDB oracle replays all five iterations as
  * unrolled CTEs. A float PageRank would drift per merge order and be
  * uncheckable. Every iteration is joins + aggregates keyed on the
  * node id; nothing ever sits on the driver, so the same code runs
  * when nodes are 10⁹ documents instead of 25 nations. The edge list
  * is materialized once before the loop (localCheckpoint here; a
  * persisted parquet or reliable checkpoint at cluster scale) so the
  * five iterations never re-derive the fact-table join.
  */
object GraphOps {

  val TotalMass = 1000000000000L // 10^12 micro-units
  val Iterations = 5

  /** Nation-level trade graph: customer nation → supplier nation, edge
    * weight = number of order lines flowing between them. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey")
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey").as("src"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey").as("dst"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** Five damped PageRank iterations (d = 85/100) in exact integers:
    * node i sends `mass·w_ij div out_i` along each edge, receives
    * `85·Σ incoming div 100` plus the uniform teleport share. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val nNodes = 25L
    val teleport = TotalMass * 15L / 100L / nNodes
    // Materialize the aggregated edge list ONCE before iterating —
    // otherwise every iteration's lineage re-derives the 4-way
    // fact-table join (the static plan held 92 parquet scans; with the
    // cut, 4). Same lineage discipline as connectedComponents; at real
    // scale this is the persisted edge parquet / reliable checkpoint.
    val edges = tradeEdges(spark, dir).localCheckpoint()
    val out = edges.groupBy("src").agg(sum("w").as("ow"))
    val nodes = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("node"))
    var mass = nodes.withColumn("mass", lit(TotalMass / nNodes))
    for (_ <- 0 until Iterations) {
      // floor(mass·w/ow) via the split identity
      // (mass div ow)·w + (mass mod ow)·w div ow — exact (mass = q·ow + r
      // ⇒ floor((q·ow+r)w/ow) = q·w + floor(r·w/ow)) and overflow-free:
      // q·w ≤ mass and r·w < ow·w, where the naive mass·w passes
      // Long.MaxValue once edge weights reach ~9·10⁶ (sf≈100).
      //
      // Per-round join strategy (r18, MEASURED and deliberately left to
      // AQE): unlike the checkpointed-per-round loops (labelPropagation
      // / hyperBall / bfsHops, where pinning broadcast() on the
      // materialized LogicalRDD side bought 20-28%), `mass` here is a
      // GROWING LAZY plan — pinning broadcast(mass)/broadcast(in) nests
      // each round's whole lineage inside a BroadcastExchange that
      // cannot be reused, and the isolated REPS=5 A/B read 2.02 s →
      // 2.26 s (a 12% REGRESSION). AQE already demotes these 25-row
      // shuffle joins to broadcast at runtime; the static SMJ in the
      // unrolled explain is not what executes.
      val in = edges.join(out, "src")
        .join(mass, col("node") === col("src"))
        .select(col("dst"),
          expr("(mass div ow) * w + ((mass % ow) * w) div ow").as("c"))
        .groupBy("dst").agg(sum("c").as("inm"))
      mass = nodes.join(in, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr("85 * coalesce(inm, 0L) div 100") + lit(teleport)).as("mass"))
    }
    mass
  }

  /** EXACT triangle counting over the undirected trade graph — the
    * clustering-density statistic (community structure, spam-graph
    * detection). Each undirected edge is ORIENTED low→high id so every
    * triangle {x<y<z} is generated exactly once by two equi-joins:
    * wedges (x,y)⋈(y,z) closed by (x,z). This is the standard
    * distributed formulation (Suri & Vassilvitskii, "Counting Triangles
    * and the Curse of the Last Reducer", WWW'11); at corpus scale the
    * orientation key is (degree, id) instead of raw id, which bounds
    * the wedge fan-out per node by O(√m) — same joins, different sort
    * key. The oriented edge list is materialized once (it feeds three
    * join branches), the same lineage discipline as [[pageRank]].
    * Output: per-node triangle membership counts, exact integers. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCountOf(tradeEdges(spark, dir))

  /** Triangle counts over an arbitrary (src, dst) edge list. */
  private[graft] def triangleCountOf(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n0"))
      .select(col("n0").cast("long").as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node of the nation trade graph —
    * the closed-wedge fraction (Watts-Strogatz): coeff = 2T/(d(d−1))
    * in exact ppm, per-node triangles from the same oriented
    * two-equi-join pass as [[triangleCount]] and degrees from the
    * deduplicated undirected edge list. The community-structure read
    * on any graph after the degree histogram: high coefficient at high
    * degree = dense cliques, low = hub-and-spoke.
    *
    * Plan/scale: the undirected edge list is materialized once
    * (checkpoint) and feeds degrees + both sides of the wedge join;
    * wedge cost is Σ deg² of the DEDUPLICATED graph, the triangle
    * bound; everything after is |nodes|-row algebra. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val und = tradeEdges(spark, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Broadcast-pinned (r19): the nation trade graph is ≤ 25 nodes /
    // ≤ 300 undirected edges BY CONSTRUCTION, but the checkpointed
    // edge list is a stats-less LogicalRDD, so all three triangle
    // joins and the degree join defaulted to sort-merge (6 exchanges
    // over tiny tables). Same bounded-side rule as the r18 loop pins.
    val tri = und.as("e1")
      .join(broadcast(und.as("e2")), col("e1.b") === col("e2.a"))
      .join(broadcast(und.as("e3")),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(broadcast(tri), Seq("node"), "left")
      .select(col("node").cast("long").as("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("CASE WHEN deg >= 2 THEN CAST(coalesce(n_triangles, 0)" +
          " * 2000000 div (deg * (deg - 1)) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END").as("coeff_ppm"))
  }

  val KcoreK = 20
  val KcoreRounds = 6

  /** Bipartite K-CORE decomposition by bounded synchronous peeling
    * (Matula & Beck '83; the distributed form of Montresor et al.,
    * "Distributed k-Core Decomposition", TPDS'13): iteratively delete
    * customers with < k distinct parts and parts with < k distinct
    * customers from the customer–part purchase graph — the dense-
    * subgraph mining primitive behind fraud-ring / bot-farm detection
    * and engagement-core analysis. Peeling is CONFLUENT (the k-core is
    * unique whatever the deletion order), so the synchronous rounds
    * are deterministic; [[KcoreRounds]] rounds reach the fixpoint at
    * every tested SF (spec-asserted), and the bounded-round contract
    * keeps the oracle an exact unrolled replay either way.
    *
    * Output is the per-round peel profile (edges / customers / parts
    * surviving) — the audit a capacity planner reads; round 0 = the
    * raw graph, last row = the k-core.
    *
    * Scale shape: each round is two hash semi-joins against the live
    * node sets plus ONE map-side-combined degree shuffle, all keyed on
    * node ids — never a pair explosion; only the |nodes|-row degree
    * table is materialized per round (each round references it four
    * times, so the lineage cut is mandatory — recompute would go
    * 4^rounds). The known refinement at 100 TB is DELTA peeling over a
    * node-bucketed adjacency index (each round touches only edges
    * incident to newly-peeled nodes instead of re-scanning E); the
    * synchronous full-scan rounds here are the oracle-replayable
    * reference form, already O(rounds·E) not O(V·E). */
  def kCorePeel(spark: SparkSession, dir: String,
      k: Int = KcoreK, rounds: Int = KcoreRounds): DataFrame = {
    // The STATIC edge list is a build-once persisted corpus artifact
    // (the purchase graph, same discipline as the token/IVF indexes —
    // its one-time build is ingest work, measured 1.4 s/run when done
    // inline); each round re-scans it from parquet — the scan is cheap,
    // and the parquet relation's footer stats are what let Catalyst
    // pick broadcast semi-joins here (a localCheckpoint of e0 measured
    // 3× SLOWER: the LogicalRDD's unknown stats forced sort-merge
    // joins). Every round keeps only the (side, node) → degree table
    // of the live subgraph (|nodes| rows, cheap to checkpoint), never
    // a survivor edge copy: a round = filter the edge scan by the two
    // live-node sets (semi-joins sized exactly off the checkpointed
    // degree table) + ONE shuffle for both sides' degrees (each edge
    // explodes to its two (side, node) endpoints, map-side combined).
    // The per-round audit row AND the fixpoint test are ONE collected
    // 4-long aggregate over that checkpoint (the driver-visible
    // per-round change count, exactly like connectedComponents); once
    // no live node sits below k the peel is at its fixpoint and the
    // remaining audit rows repeat without further passes — confluence
    // makes the short-circuit exact, and it drops 1-2 of the 6 full
    // passes at every tested SF. The profile itself is a ≤7-row
    // driver-assembled literal table — the collected-bounded-artifact
    // discipline (BPE merge table precedent).
    val e0 = spark.read.parquet(PurchaseGraph.path(spark, dir))
    def degTable(live: Option[(DataFrame, DataFrame)]): DataFrame = {
      // The live sets are |nodes|-row filters of the checkpointed degree
      // table; the checkpoint's LogicalRDD carries no size stats, so
      // WITHOUT the hint Catalyst inverts the join — it broadcasts the
      // |E|-row edge list (known parquet stats, under the threshold at
      // test SF: a 590k-row hash relation built per round) and
      // sort-merge-joins the 20k-row live set (measured 2.7 s/round;
      // hinted, 0.4 s). At node counts past broadcast range the hint is
      // where a deployment swaps in the shuffle semi-join.
      val edges = live match {
        case Some((lc, lp)) =>
          e0.join(broadcast(lc), "c").join(broadcast(lp), "p")
        case None => e0
      }
      edges.select(explode(array(
          struct(lit("c").as("side"), col("c").as("node")),
          struct(lit("p").as("side"), col("p").as("node")))).as("sn"))
        .select(col("sn.side").as("side"), col("sn.node").as("node"))
        .groupBy("side", "node").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
    }
    // (n_edges, n_custs, n_parts, n_below-k) in one 1-row job.
    def auditRow(deg: DataFrame): (Long, Long, Long, Long) = {
      val r = deg.agg(
          coalesce(sum(when(col("side") === "c", col("deg"))), lit(0L))
            .as("n_edges"),
          count(when(col("side") === "c", 1)).as("n_custs"),
          count(when(col("side") === "p", 1)).as("n_parts"),
          count(when(col("deg") < k, 1)).as("n_below"))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    var deg = degTable(None)
    var cur = auditRow(deg)
    val profile = scala.collection.mutable.ArrayBuffer((0, cur))
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      fixed = cur._4 == 0L
      if (!fixed) {
        val liveC = deg.filter(col("side") === "c" && col("deg") >= k)
          .select(col("node").as("c"))
        val liveP = deg.filter(col("side") === "p" && col("deg") >= k)
          .select(col("node").as("p"))
        deg = degTable(Some((liveC, liveP)))
        cur = auditRow(deg)
      }
      profile += ((r, cur))
      r += 1
    }
    while (r <= rounds) { profile += ((r, cur)); r += 1 }
    import spark.implicits._
    profile.toSeq.map { case (rd, (e, c, p, _)) => (rd, e, c, p) }
      .toDF("round", "n_edges", "n_custs", "n_parts")
  }

  val BfsMaxHops = 4
  val BfsTopLanes = 2

  /** BFS HOP DISTANCE from a seed node over the SPARSIFIED trade graph
    * — each node keeps only its [[BfsTopLanes]] heaviest outgoing lanes
    * (w desc, dst tiebreak): the "primary trade routes" backbone. The
    * raw graph is near-complete (every node 1 hop from every other), so
    * sparsification is what makes reachability non-vacuous; per-node
    * top-k is scale-FREE where a mean-relative weight threshold is not
    * (measured: ≥2×-mean keeps 33 edges at sf0.01 and ZERO at sf0.1 —
    * larger SF flattens the weight distribution).
    *
    * Classic frontier-expansion BFS bounded to [[BfsMaxHops]] levels:
    * each level is one hash join frontier⋈edges + one distinct + one
    * anti-join against the reached set — node-keyed relational ops,
    * level count = traversal depth (bounded so the oracle is a bounded
    * recursive CTE). This is the iterative-traversal primitive
    * (reachability / shortest-path layer over joins); state is the
    * reached set, checkpointed per level like connectedComponents'
    * labels — at 10⁹ nodes each level is a shuffle join on node id,
    * the top-k sparsify is one partitioned window, and the frontier
    * (not the graph) drives the cost. DuckDB replays it as
    * `WITH RECURSIVE` — the SQL face of the same fixpoint. */
  /** Top-[[BfsTopLanes]] sparsified directed trade graph, checkpointed
    * — shared by [[bfsHops]] and [[hyperBall]] so the two traversals
    * run the same graph. */
  private[graft] def sparseTradeEdges(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wlane = Window.partitionBy("src")
      .orderBy(col("w").desc, col("dst"))
    tradeEdges(spark, dir)
      .withColumn("rn", row_number().over(wlane))
      .filter(col("rn") <= BfsTopLanes)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint() // feeds every level
  }

  def bfsHops(spark: SparkSession, dir: String,
      seed: Long = 0L, maxHops: Int = BfsMaxHops): DataFrame = {
    import spark.implicits._
    val sparse = sparseTradeEdges(spark, dir)
    // sparse is ≤ BfsTopLanes·|V| rows by construction, so its broadcast
    // pin is bounded by the schema. The reached side grows toward |V|;
    // every reached node but the seed is some edge's dst, so
    // |reached| ≤ |sparse| + 1. Its pin, which lets the optimizer push
    // the anti join into the broadcast edge side, holds only while that
    // bound fits a broadcast (16 B per single-long row, as Spark sizes
    // it); above it the anti join is left to AQE.
    val pinReached = (sparse.count() + 1) * 16 <=
      spark.sessionState.conf.autoBroadcastJoinThreshold
    var reached = Seq((seed, 0)).toDF("node", "hops").localCheckpoint()
    for (t <- 1 to maxHops) {
      val seen = reached.select("node")
      val frontier = reached.filter(col("hops") === t - 1)
      val next = frontier.join(broadcast(sparse), col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(if (pinReached) broadcast(seen) else seen, Seq("node"), "left_anti")
        .withColumn("hops", lit(t))
      val merged = reached.unionAll(next)
      graft.PlanAudit.loopBody("bfsHops hop", merged)
      reached = merged.localCheckpoint()
    }
    reached
  }

  /** Persisted distinct customer–part purchase graph (c, p). */
  private[graft] val PurchaseGraph = graft.Indexes.Artifact("purchase-graph") {
    (spark, dir, out) =>
      Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
        .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        .write.mode("overwrite").parquet(out)
  }

  /** Depth bound for [[walkCounts]] — keeps the recursion Σ 25^k. */
  val WalkMaxLen = 3

  /** The recursive half of the walk query, over an `edges(src, dst, w)`
    * relation named `edgesRel`: bounded-length weighted WALK counting
    * from nation 0 — for each (node, length ≤ [[WalkMaxLen]]), the
    * number of distinct walks ending there and their total weight
    * (product of edge line-counts along the walk — the "how much trade
    * flows along multi-hop routes" statistic adjacency-matrix powers
    * compute). Exact integer products/sums, so hash-checkable. */
  private def walkSqlBody(edgesRel: String): String =
    s"""WITH RECURSIVE walks AS (
       |  SELECT CAST(0 AS BIGINT) AS node, 0 AS len, CAST(1 AS BIGINT) AS wprod
       |  UNION ALL
       |  SELECT CAST(e.dst AS BIGINT), wk.len + 1, wk.wprod * e.w
       |  FROM walks wk JOIN $edgesRel e ON e.src = wk.node
       |  WHERE wk.len < $WalkMaxLen)
       |SELECT node, len, CAST(count(*) AS BIGINT) AS n_walks,
       |       CAST(sum(wprod) AS BIGINT) AS weighted_walks
       |FROM walks WHERE len > 0 GROUP BY node, len""".stripMargin

  /** NATIVE RECURSIVE CTE (Spark 4 `WITH RECURSIVE`): the SQL-surface
    * face of iterative graph traversal — where [[bfsHops]] drives the
    * fixpoint from a driver loop, here the engine's own UnionLoop
    * executes it, and the DuckDB oracle runs the IDENTICAL recursive
    * SQL (both dialects share the syntax and linear-recursion
    * semantics).
    *
    * Plan/scale shape: the aggregated edge table is materialized ONCE
    * before the recursion (same lineage discipline as [[pageRank]] —
    * otherwise every loop step re-derives the 4-way fact join), so
    * each recursion level is one distributed join of the frontier
    * against the |nations|² edge artifact; depth is bounded by
    * [[WalkMaxLen]], and the recursion carries (node, len, wprod)
    * rows only — never the fact table. */
  def walkCounts(spark: SparkSession, dir: String): DataFrame = {
    tradeEdges(spark, dir).localCheckpoint()
      .createOrReplaceTempView("edges_walks")
    // Per-level join strategy MEASURED and deliberately left to the
    // engine (r19, the pageRank-negative discipline): a
    // /*+ BROADCAST(e) */ hint on the recursive member — the r18
    // loop-pin lesson transplanted to the ENGINE-driven loop — read
    // 1.351 s → 1.622 s (+20%) in a 3-pass isolated A/B at sf0.1;
    // unlike the driver-side loops, UnionLoop re-plans the hinted
    // broadcast build per level and the pin only adds work. Unhinted,
    // the level join adapts at runtime.
    spark.sql(walkSqlBody("edges_walks"))
  }

  /** LINK PREDICTION on the part co-purchase graph — basket
    * completion / "customers also bought" as a pure graph query:
    * score NON-adjacent part pairs by COMMON NEIGHBORS (how many
    * parts co-occur with both) and PREFERENTIAL ATTACHMENT
    * (deg·deg), the two classic exact link-prediction baselines
    * (Liben-Nowell & Kleinberg, CIKM'03) — both integer-exact, no
    * Adamic-Adar log needed for a deterministic ranking. The
    * support-≥`minSup` edge filter is what makes the quadratic
    * tractable: the wedge join costs Σ deg² over the FILTERED graph
    * (support pruning cuts the hub tail exactly where deg² explodes),
    * never Σ deg² of the raw co-purchase multigraph.
    *
    * Plan/scale shape (r19): in-row basket pair expansion
    * (`Analytics.basketPairs` — the r18 distinct-distinct self-join is
    * gone, guide §3) → support-filtered edge list materialized ONCE
    * (localCheckpoint; persisted parquet at corpus scale) →
    * edges⋈edges wedge join on the middle node → LEFT ANTI against
    * the edge set (predicted links must be NEW) → degree broadcasts →
    * global top-k as TakeOrdered with the rank attached post-limit
    * (the window sees k rows). The wedge/anti/degree sides are
    * broadcast-PINNED (the itemTriples F2 discipline: the
    * support-thresholded frontier is ≪ |pairs| — 3.5k of 1.2M at
    * sf0.1 — and every side here is derived from it, but each
    * checkpoint strips stats, so Catalyst defaulted all four joins to
    * sort-merge). At node counts past broadcast range these pins are
    * where a deployment swaps in shuffle joins. */
  def linkPrediction(spark: SparkSession, dir: String, minSup: Int = 2,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = Analytics.basketPairs(Analytics.orderBaskets(spark, dir))
      .groupBy(col("pa").as("u"), col("pb").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSup)
      .select("u", "v")
      .localCheckpoint()
    val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
    val wedges = und.select(col("u").as("x"), col("v").as("b"))
      .join(broadcast(und.select(col("u").as("b2"), col("v").as("y"))),
        col("b") === col("b2") && col("x") < col("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common_neighbors"))
    val cand = wedges.join(broadcast(edges),
      wedges("x") === edges("u") && wedges("y") === edges("v"), "left_anti")
    val ranked = cand
      .join(broadcast(deg.select(col("u").as("x"), col("deg").as("dx"))), "x")
      .join(broadcast(deg.select(col("u").as("y"), col("deg").as("dy"))), "y")
      .select(col("x").as("part_i"), col("y").as("part_j"),
        col("common_neighbors"), (col("dx") * col("dy")).as("pref_attach"))
      .orderBy(col("common_neighbors").desc, col("pref_attach").desc,
        col("part_i"), col("part_j"))
      .limit(k)
    ranked.withColumn("rk", row_number().over(
      Window.orderBy(col("common_neighbors").desc, col("pref_attach").desc,
        col("part_i"), col("part_j"))))
  }

  /** Rounds of [[labelPropagation]]; the oracle unrolls the same
    * count. */
  val LpaRounds = 4

  /** WEIGHTED LABEL PROPAGATION community detection (Raghavan et al.
    * 2007), made engine-deterministic: each round every node adopts
    * the label with the LARGEST total incident edge weight among its
    * neighbours' current labels — argmax packed into one integer
    * `max(s·32 + (31 − lbl))` (score-major, min-label tiebreak; node
    * ids < 32, score ceiling 2⁵⁸ documents the repack point), so the
    * round replays bit-identically where textbook async LPA is
    * visit-order-dependent. Distinct from [[Dedup.connectedComponents]]:
    * min-label propagation finds REACHABILITY; weighted LPA finds
    * DENSITY (a weak bridge between two dense blocks keeps two
    * communities).
    *
    * Plan/scale shape: identical to [[pageRank]] — symmetrized edge
    * list materialized once, per-round join + two aggregates keyed on
    * node id, labels checkpointed per round; nothing driver-side, so
    * nodes can be 10⁹ documents (the near-dup-graph use: communities
    * = topical clusters of the similarity graph). */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = LpaRounds): DataFrame = {
    val edges = tradeEdges(spark, dir).localCheckpoint()
    val und = edges.select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(edges.select(col("dst").as("u"), col("src").as("v"), col("w")))
      .groupBy("u", "v").agg(sum("w").as("w"))
      .localCheckpoint()
    val nodes = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("node"))
    var lbl = nodes.withColumn("lbl", col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      // Per-round broadcast pinning (r18, the kCorePeel lesson): both
      // checkpointed sides carry no stats, so Catalyst defaulted the
      // round to sort-merge. The LABEL table is the broadcast side —
      // |V| rows of (node, lbl) — which is also the side that stays
      // broadcastable in the 10⁹-node near-dup-graph use only after
      // sharding; at THIS face |V| = |nations| = 25 by schema. The
      // edge table stays the streamed side (the big side at corpus
      // scale).
      val scores = und.as("e")
        .join(broadcast(lbl.as("l")), col("e.u") === col("l.node"))
        .select(col("e.v").as("node"), col("l.lbl").as("nlbl"), col("e.w"))
        .groupBy("node", "nlbl").agg(sum("w").as("s"))
      val best = scores.groupBy("node")
        .agg(max(expr("s * 32 + (31 - nlbl)")).as("p"))
        .select(col("node"), expr("31 - p % 32").as("newlbl"))
      val next = lbl.as("o").join(broadcast(best.as("b")), Seq("node"), "left")
        .select(col("node"), coalesce(col("newlbl"), col("lbl")).as("lbl"))
      graft.PlanAudit.loopBody("labelPropagation round", next)
      lbl = next.localCheckpoint()
    }
    val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    lbl.join(broadcast(sizes), "lbl")
      .select(col("node"), col("lbl").as("community"), col("community_size"))
  }

  /** Ball radius for [[hyperBall]]; the oracle replays the same
    * horizon. */
  val HyperBallRadius = 3

  /** HYPERBALL neighborhood function (Boldi & Vigna, WSDM'13 shape):
    * per-node |ball(v, ≤r)| estimated by propagating MERGEABLE HLL
    * sketches along edges — each of the r rounds unions every node's
    * sketch into its in-neighbors (self-loops keep the ball monotone),
    * so the reach statistic costs r sketch-sized shuffles instead of
    * the pairwise frontier blow-up. This is THE graph-scale path: at
    * 10⁹ nodes the exact distinct-pairs table (nodes × avg-ball) is
    * unmaterializable, while the sketch table stays |V|×KB —
    * HyperBall is how effective-diameter/centrality stats are
    * actually computed on webgraph-sized inputs. Runs on the same
    * [[sparseTradeEdges]] graph as the BFS pair so traversals agree.
    *
    * Oracle contract: the sketch blob is not cross-engine-replayable,
    * so the EXACT reach (r rounds of distinct pair expansion — the
    * oracle anchor, fine at 25 nodes, impossible at 10⁹) rides along
    * with an estimate-in-bounds flag, the q_hll_daily pattern. */
  def hyperBall(spark: SparkSession, dir: String,
      radius: Int = HyperBallRadius): DataFrame = {
    val nodes = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("node"))
    val adj = sparseTradeEdges(spark, dir)
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .localCheckpoint() // + self-loops: ball(v) always contains v
    var ball = nodes.groupBy("node")
      .agg(expr("hll_sketch_agg(node)").as("sk"))
    for (_ <- 1 to radius) {
      // r18 broadcast pinning (kCorePeel lesson): the ball table is
      // |V| sketch rows — KB-sized at 25 nodes, |V|·KB in the webgraph
      // use, which is exactly HyperBall's published memory model (the
      // sketch table rides in RAM; the edge scan streams). Without the
      // hint the checkpointed sides sort-merge every round.
      val next = adj.join(broadcast(ball), col("dst") === col("node"))
        .groupBy("src").agg(expr("hll_union_agg(sk)").as("sk"))
        .select(col("src").as("node"), col("sk"))
      graft.PlanAudit.loopBody("hyperBall round", next)
      ball = next.localCheckpoint() // |V| sketch rows per round
    }
    var pairs = nodes.select(col("node").as("v"), col("node").as("u"))
    for (_ <- 1 to radius) {
      // The oracle-anchor exact expansion: adj is ≤ 2·|V| + |V| rows
      // (top-2 lanes + self-loops) by construction — the broadcast
      // side at any SF; pairs is the growing side.
      pairs = pairs
        .union(pairs.join(broadcast(adj), col("u") === col("src"))
          .select(col("v"), col("dst").as("u")))
        .distinct().localCheckpoint()
    }
    val exact = pairs.groupBy("v").agg(count(lit(1)).as("exact_reach"))
    ball.select(col("node"), expr("hll_sketch_estimate(sk)").as("est"))
      .join(broadcast(exact), col("node") === col("v"))
      .select(col("node"), col("exact_reach"),
        (abs(col("est") - col("exact_reach")) <=
          col("exact_reach") * 0.05 + lit(16)).as("estimate_in_bounds"))
  }

  /** PERSONALIZED PageRank from one seed node — the recommendation /
    * related-items primitive ([[pageRank]] ranks GLOBAL importance;
    * PPR ranks importance RELATIVE to a seed, which is what "users
    * who trade with nation 0 also trade with…" actually asks). Same
    * exact-integer split-identity rounds on the same checkpointed
    * edge list; the only change is WHERE the 15% teleport lands — all
    * of it on the seed instead of uniformly — so mass concentrates in
    * the seed's neighbourhood and decays with random-walk distance.
    * At corpus scale this is the standard PPR power iteration (k
    * edge-keyed shuffles; production pushes residuals, same plan). */
  def personalizedPageRank(spark: SparkSession, dir: String,
      seed: Long = 0L): DataFrame = {
    val edges = tradeEdges(spark, dir).localCheckpoint()
    val out = edges.groupBy("src").agg(sum("w").as("ow"))
    val nodes = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("node"))
    var mass = nodes.withColumn("mass",
      when(col("node") === seed, lit(TotalMass)).otherwise(lit(0L)))
    for (_ <- 0 until Iterations) {
      // Left to AQE like [[pageRank]]'s loop (r18 measured A/B): mass
      // is a growing lazy plan, and pinned broadcasts regressed it.
      val in = edges.join(out, "src")
        .join(mass, col("node") === col("src"))
        .select(col("dst"),
          expr("(mass div ow) * w + ((mass % ow) * w) div ow").as("c"))
        .groupBy("dst").agg(sum("c").as("inm"))
      mass = nodes.join(in, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr("85 * coalesce(inm, 0L) div 100") +
            when(col("node") === seed, lit(TotalMass * 15L / 100L))
              .otherwise(lit(0L))).as("mass"))
    }
    mass.select(col("node"), col("mass").as("ppr_mass"))
  }

  /** DEGREE ASSORTATIVITY of the customer–part purchase graph — does
    * a heavy buyer buy popular parts (r > 0) or niche ones (r < 0)?
    * Pearson correlation of endpoint degrees over the (symmetrized)
    * edge list; with every edge counted in both directions the two
    * marginals coincide, so the usual sqrt-denominator collapses to
    * nΣx² − (Σx)² and the whole statistic is ONE exact DECIMAL(38)
    * rational in ppm — no sqrt, no floats. Degrees via two grouped
    * counts, moments via one edge-keyed join pass. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    // Namespace the bipartite sides (2c / 2p+1): customer 5 and part 5
    // are different nodes and must not merge under one degree count.
    val e = spark.read.parquet(PurchaseGraph.path(spark, dir))
      .select(expr("c * 2").as("u"), expr("p * 2 + 1").as("v"))
    val both = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = both.groupBy("u").agg(count(lit(1)).as("d"))
    both
      .join(deg.withColumnRenamed("u", "du").withColumnRenamed("d", "x"),
        col("u") === col("du"))
      .join(deg.withColumnRenamed("u", "dv").withColumnRenamed("d", "y"),
        col("v") === col("dv"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .selectExpr("CAST(m AS BIGINT) AS n_directed_edges",
        "CAST(CASE WHEN m * sxx - sx * sx = 0 THEN 0" +
          " WHEN m * sxy - sx * sx >= 0" +
          " THEN (m * sxy - sx * sx) * 1000000 div (m * sxx - sx * sx)" +
          " ELSE -((sx * sx - m * sxy) * 1000000" +
          " div (m * sxx - sx * sx)) END AS BIGINT)" +
          " AS assortativity_ppm")
  }

  /** POWER-OF-TWO DEGREE HISTOGRAM of the purchase graph — the
    * first thing read off any new graph (heavy-tail shape, hub
    * cutoff): exact integer log2 buckets via binary-repr length (the
    * doclen-histogram trick), per side of the bipartite graph.
    * Bounded output (≤ ~33 buckets × 2 sides) at any scale. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(PurchaseGraph.path(spark, dir))
    def side(keyCol: String, name: String) =
      e.groupBy(col(keyCol)).agg(count(lit(1)).as("d"))
        .select(lit(name).as("side"), length(bin(col("d"))).as("bucket"))
        .groupBy("side", "bucket").agg(count(lit(1)).as("n_nodes"))
    side("c", "customer").unionByName(side("p", "part"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_assortativity" -> assortativity,
    "q_degree_histogram" -> degreeHistogram,
    "q_ppr_trade" -> ((s, d) => personalizedPageRank(s, d)),
    "q_hyperball" -> ((s, d) => hyperBall(s, d)),
    "q_label_prop" -> ((s, d) => labelPropagation(s, d)),
    "q_link_prediction" -> ((s, d) => linkPrediction(s, d)),
    "q_pagerank_trade" -> pageRank,
    "q_kcore_peel" -> ((s, d) => kCorePeel(s, d)),
    "q_bfs_hops" -> ((s, d) => bfsHops(s, d)),
    "q_recursive_bfs" -> recursiveBfs,
    "q_walk_counts" -> walkCounts,
    "q_triangle_count" -> triangleCount,
    "q_clustering_coeff" -> clusteringCoeff)

  /** NATIVE `WITH RECURSIVE` BFS — the same sparsified-trade-graph
    * traversal as [[bfsHops]], but the fixpoint runs INSIDE Spark SQL
    * (4.x recursive CTE → UnionLoop execution) instead of a
    * driver-side loop of checkpointed joins: the engine owns the
    * iteration, so the traversal composes into larger SQL, and the
    * per-level plan is the same frontier⋈edges hash join the manual
    * loop builds — now without a driver round-trip per level. Depth
    * is bounded by the same [[BfsMaxHops]] predicate (the guard the
    * recursion-limit config backstops); min(hops) per node collapses
    * the path enumeration to first-visit distance, exactly the
    * iterative version's anti-join semantics. The DuckDB oracle IS
    * the identical query — the first operator where the two engines
    * run the same recursive SQL text shape end to end. */
  def recursiveBfs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wlane = Window.partitionBy("src")
      .orderBy(col("w").desc, col("dst"))
    // Materialize the sparse edges BEFORE the recursion: the temp view
    // is a logical plan, and UnionLoop re-evaluates it EVERY level —
    // unchecked, that is one full fact-join per hop (measured 4.8 s vs
    // 1.6 s at sf0.1). The checkpoint is the same build-once the
    // iterative face applies to its `sparse`.
    tradeEdges(spark, dir)
      .withColumn("rn", row_number().over(wlane))
      .filter(col("rn") <= BfsTopLanes)
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint()
      .createOrReplaceTempView("bfs_edges_rec")
    // Per-level join strategy measured and left unhinted (r19): a
    // /*+ BROADCAST(e) */ pin on the recursive member read flat
    // (1.578 s → 1.547 s, inside the noise band) in a 3-pass isolated
    // A/B — and the same pin REGRESSED walkCounts +20% (see there), so
    // the UnionLoop joins stay engine-planned.
    spark.sql(
      s"""WITH RECURSIVE bfs AS (
         |  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
         |  UNION ALL
         |  SELECT e.dst AS node, r.hops + 1 AS hops
         |  FROM bfs r JOIN bfs_edges_rec e ON e.src = r.node
         |  WHERE r.hops < $BfsMaxHops)
         |SELECT node, CAST(min(hops) AS INT) AS hops
         |FROM bfs GROUP BY node""".stripMargin)
  }

  /** BFS oracle, shared by q_bfs_hops (iterative Spark loop) and
    * q_recursive_bfs (native Spark recursive CTE) — one ground truth
    * for both faces of the same traversal. */
  private lazy val bfsOracleSql: String =
    s"""WITH RECURSIVE $edgesSql,
       |sparse AS (
       |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |  FROM (SELECT src, dst, row_number() OVER (
       |          PARTITION BY src ORDER BY w DESC, dst) AS rn
       |        FROM edges)
       |  WHERE rn <= $BfsTopLanes),
       |bfs AS (
       |  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
       |  UNION ALL
       |  SELECT s.dst, b.hops + 1
       |  FROM bfs b JOIN sparse s ON s.src = b.node
       |  WHERE b.hops < $BfsMaxHops)
       |SELECT node, CAST(min(hops) AS INT) AS hops
       |FROM bfs GROUP BY node""".stripMargin

  private val edgesSql =
    """edges AS (
      |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
      |nodes AS (SELECT n_nationkey AS node FROM nation)""".stripMargin

  /** One unrolled iteration: m{k} → m{k+1} (floor div at both the edge
    * split and the damping, exactly like the Spark loop). */
  private def iterSql(k: Int): String =
    s"""m${k + 1} AS (
       |  SELECT n.node,
       |         85 * coalesce(i.inm, 0) // 100 + 6000000000 AS mass
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node,
       |           CAST(sum((m.mass // o.ow) * e.w
       |                    + ((m.mass % o.ow) * e.w) // o.ow) AS BIGINT) AS inm
       |    FROM m$k m JOIN edges e ON m.node = e.src JOIN outw o ON o.src = e.src
       |    GROUP BY 1) i USING (node))""".stripMargin

  /** [[iterSql]] with the teleport landing entirely on seed node 0
    * (the personalized variant). */
  private def pprIterSql(k: Int): String =
    s"""m${k + 1} AS (
       |  SELECT n.node,
       |         85 * coalesce(i.inm, 0) // 100
       |           + CASE WHEN n.node = 0 THEN 150000000000 ELSE 0 END
       |           AS mass
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node,
       |           CAST(sum((m.mass // o.ow) * e.w
       |                    + ((m.mass % o.ow) * e.w) // o.ow) AS BIGINT) AS inm
       |    FROM m$k m JOIN edges e ON m.node = e.src JOIN outw o ON o.src = e.src
       |    GROUP BY 1) i USING (node))""".stripMargin

  /** One unrolled peel round e{r-1} → e{r} (same HAVING-≥k degree
    * filters and double semi-join as the Spark loop). Each edge CTE is
    * `AS MATERIALIZED` (DuckDB-only syntax — the oracle never runs in
    * Spark): every e_r is referenced three times (both degree filters
    * plus the next round / the final tally), and DuckDB inlining the
    * chain instead re-derives e_{r-1} per reference — exponential work
    * that spilled >46 GB of temp and never finished at sf0.1. With
    * materialization each round computes once and the sweep completes
    * in seconds at every SF. */
  private def peelRoundSql(r: Int): String =
    s"""cd$r AS (SELECT c FROM e${r - 1} GROUP BY c HAVING count(*) >= $KcoreK),
       |pd$r AS (SELECT p FROM e${r - 1} GROUP BY p HAVING count(*) >= $KcoreK),
       |e$r AS MATERIALIZED (SELECT e${r - 1}.* FROM e${r - 1}
       |        JOIN cd$r USING (c) JOIN pd$r USING (p))""".stripMargin

  private lazy val kcoreSql: String =
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |""".stripMargin +
      (1 to KcoreRounds).map(peelRoundSql).mkString(",\n") + "\n" +
      (0 to KcoreRounds).map(r =>
        s"""SELECT CAST($r AS INT) AS round, count(*) AS n_edges,
           |       CAST(count(DISTINCT c) AS BIGINT) AS n_custs,
           |       CAST(count(DISTINCT p) AS BIGINT) AS n_parts
           |FROM e$r""".stripMargin).mkString("\nUNION ALL\n")

  /** Oracle for [[labelPropagation]]: the deterministic rounds
    * unrolled as CTEs (the pageRank/kmeans technique). */
  private def lpaSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS (
         |  SELECT e.v AS node, l.lbl AS nlbl, CAST(sum(e.w) AS BIGINT) AS s
         |  FROM und e JOIN l${r - 1} l ON e.u = l.node GROUP BY 1, 2),
         |b$r AS (
         |  SELECT node, 31 - max(s * 32 + (31 - nlbl)) % 32 AS newlbl
         |  FROM s$r GROUP BY 1),
         |l$r AS (
         |  SELECT l.node, coalesce(b.newlbl, l.lbl) AS lbl
         |  FROM l${r - 1} l LEFT JOIN b$r b ON b.node = l.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH dir_e AS (
       |  SELECT c_nationkey AS src, s_nationkey AS dst,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |und AS (
       |  SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT src AS u, dst AS v, w FROM dir_e
       |    UNION ALL SELECT dst AS u, src AS v, w FROM dir_e)
       |  GROUP BY 1, 2),
       |l0 AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node,
       |         CAST(n_nationkey AS BIGINT) AS lbl FROM nation),
       |$roundCtes,
       |sizes AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |          FROM l$rounds GROUP BY 1)
       |SELECT l.node, l.lbl AS community, s.community_size
       |FROM l$rounds l JOIN sizes s ON s.lbl = l.lbl""".stripMargin
  }

  /** Oracle for [[hyperBall]]: exact reach via unrolled distinct pair
    * expansion on the same sparse graph; the estimate is asserted
    * in-bounds Spark-side (q_hll_daily contract). */
  private def hyperBallSql(radius: Int): String = {
    val roundCtes = (1 to radius).map { r =>
      s"""p$r AS (
         |  SELECT DISTINCT v, u FROM (
         |    SELECT v, u FROM p${r - 1}
         |    UNION ALL
         |    SELECT p.v, a.dst AS u
         |    FROM p${r - 1} p JOIN adj a ON a.src = p.u))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSql,
       |sparse AS (
       |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |  FROM (SELECT src, dst, row_number() OVER (
       |          PARTITION BY src ORDER BY w DESC, dst) AS rn
       |        FROM edges)
       |  WHERE rn <= $BfsTopLanes),
       |adj AS (
       |  SELECT src, dst FROM sparse
       |  UNION ALL
       |  SELECT CAST(node AS BIGINT), CAST(node AS BIGINT) FROM nodes),
       |p0 AS (SELECT CAST(node AS BIGINT) AS v, CAST(node AS BIGINT) AS u
       |       FROM nodes),
       |$roundCtes
       |SELECT v AS node, CAST(count(*) AS BIGINT) AS exact_reach,
       |       true AS estimate_in_bounds
       |FROM p$radius GROUP BY 1""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_assortativity" ->
      """WITH pg AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c * 2 AS u, p * 2 + 1 AS v FROM pg),
        |bo AS (SELECT u, v FROM e
        |       UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
        |        FROM bo GROUP BY 1),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS m,
        |         CAST(sum(dx.d) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(dx.d AS HUGEINT) * dx.d) AS HUGEINT)
        |           AS sxx,
        |         CAST(sum(CAST(dx.d AS HUGEINT) * dy.d) AS HUGEINT)
        |           AS sxy
        |  FROM bo b
        |  JOIN deg dx ON dx.u = b.u
        |  JOIN deg dy ON dy.u = b.v)
        |SELECT CAST(m AS BIGINT) AS n_directed_edges,
        |       CAST(CASE WHEN m * sxx - sx * sx = 0 THEN 0
        |         WHEN m * sxy - sx * sx >= 0
        |         THEN (m * sxy - sx * sx) * 1000000 // (m * sxx - sx * sx)
        |         ELSE -((sx * sx - m * sxy) * 1000000
        |           // (m * sxx - sx * sx)) END AS BIGINT)
        |         AS assortativity_ppm
        |FROM m""".stripMargin,
    "q_degree_histogram" ->
      """WITH pg AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cd AS (SELECT 'customer' AS side,
        |              CAST(length(bin(count(*))) AS INT) AS bucket
        |       FROM pg GROUP BY c),
        |pd AS (SELECT 'part' AS side,
        |              CAST(length(bin(count(*))) AS INT) AS bucket
        |       FROM pg GROUP BY p)
        |SELECT side, bucket, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM (SELECT * FROM cd UNION ALL SELECT * FROM pd) u
        |GROUP BY 1, 2""".stripMargin,
    "q_hyperball" -> hyperBallSql(HyperBallRadius),
    "q_label_prop" -> lpaSql(LpaRounds),
    "q_link_prediction" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |edges AS (
        |  SELECT u, v FROM (
        |    SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
        |    FROM items a JOIN items b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |    GROUP BY 1, 2) WHERE w >= 2),
        |und AS (
        |  SELECT u, v FROM edges
        |  UNION ALL SELECT v AS u, u AS v FROM edges),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |wedges AS (
        |  SELECT p.u AS x, q.v AS y, CAST(count(*) AS BIGINT)
        |           AS common_neighbors
        |  FROM und p JOIN und q ON p.v = q.u AND p.u < q.v
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT w.* FROM wedges w
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                    WHERE e.u = w.x AND e.v = w.y)),
        |scored AS (
        |  SELECT c.x AS part_i, c.y AS part_j, c.common_neighbors,
        |         dx.deg * dy.deg AS pref_attach
        |  FROM cand c
        |  JOIN deg dx ON dx.u = c.x
        |  JOIN deg dy ON dy.u = c.y)
        |SELECT part_i, part_j, common_neighbors, pref_attach,
        |       CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY common_neighbors DESC,
        |        pref_attach DESC, part_i, part_j) AS rk
        |      FROM scored)
        |WHERE rk <= 20""".stripMargin,
    "q_walk_counts" ->
      (s"""WITH RECURSIVE edges_w AS (
          |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  GROUP BY 1, 2),
          |""".stripMargin +
        walkSqlBody("edges_w").replaceFirst("WITH RECURSIVE ", "")),
    "q_bfs_hops" -> bfsOracleSql,
    "q_recursive_bfs" -> bfsOracleSql,
    "q_kcore_peel" -> kcoreSql,
    "q_pagerank_trade" ->
      (s"""WITH $edgesSql,
          |m0 AS (SELECT node, 40000000000 AS mass FROM nodes),
          |""".stripMargin +
        (0 until Iterations).map(iterSql).mkString(",\n") +
        s"\nSELECT node, CAST(mass AS BIGINT) AS mass FROM m$Iterations"),
    "q_ppr_trade" ->
      (s"""WITH $edgesSql,
          |m0 AS (SELECT node, CASE WHEN node = 0 THEN 1000000000000
          |                    ELSE 0 END AS mass FROM nodes),
          |""".stripMargin +
        (0 until Iterations).map(pprIterSql).mkString(",\n") +
        s"\nSELECT node, CAST(mass AS BIGINT) AS ppr_mass FROM m$Iterations"),
    "q_triangle_count" ->
      s"""WITH $edgesSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1
         |  JOIN und e2 ON e1.b = e2.a
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT unnest([x, y, z]) AS node FROM tri)
         |GROUP BY node""".stripMargin,
    "q_clustering_coeff" ->
      s"""WITH $edgesSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM und e1
         |  JOIN und e2 ON e1.b = e2.a
         |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tcount AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM (SELECT unnest([x, y, z]) AS node FROM tri)
         |  GROUP BY node),
         |deg AS (
         |  SELECT node, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT a AS node FROM und
         |        UNION ALL SELECT b FROM und)
         |  GROUP BY 1)
         |SELECT CAST(d.node AS BIGINT) AS node, d.deg,
         |       coalesce(t.n_triangles, 0) AS n_triangles,
         |       CASE WHEN d.deg >= 2 THEN
         |         CAST(coalesce(t.n_triangles, 0) * 2000000
         |           // (d.deg * (d.deg - 1)) AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS coeff_ppm
         |FROM deg d LEFT JOIN tcount t ON t.node = d.node""".stripMargin)
}
