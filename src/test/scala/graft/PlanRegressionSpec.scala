package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Locks in the plan-shape properties PLANS.md documents — a regression
  * here means a future change quietly broke pushdown, broadcast choice,
  * or added a shuffle, which only shows up as a cliff at real scale.
  */
class PlanRegressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("plan-regression-spec", cores = "2")

  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = planOf("q1_pricing_summary")
    withClue(p) {
      assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q5: dimension joins broadcast, no cartesian products") {
    val p = planOf("q5_revenue_by_nation")
    withClue(p) {
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
      // region filter reaches its scan
      assert(p.contains("EqualTo(r_name,ASIA)"))
    }
  }

  test("running avg / sessionize / as-of: exactly one shuffle each") {
    for (q <- Seq("q_running_avg", "q_sessionize", "q_asof_attribution")) {
      val p = planOf(q)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
      withClue(s"$q:\n$p") { assert(shuffles == 1) }
    }
  }

  test("dedup_exact: partial aggregation before the single shuffle") {
    val p = planOf("q_dedup_exact")
    withClue(p) {
      assert("HashAggregate".r.findAllIn(p).length >= 2) // partial + final
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    }
  }

  test("minhash: shingle extraction is shuffle-free codegen (no window, no HOF)") {
    val p = planOf("q_dedup_minhash")
    withClue(p) {
      // the custom Shingles expression appears; no window-based extraction
      assert(p.contains("shingles("))
      assert(!p.contains("lead(tok"))
      // signature aggregation is partial+final around an exchange
      assert(p.contains("partial_min") || "HashAggregate".r.findAllIn(p).length >= 2)
    }
  }

  test("embed quantize: pure projection, zero shuffles") {
    val p = planOf("q_embed_quantize")
    withClue(p) {
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 0)
    }
  }

  test("heavy hitters: MG sketch is an ObjectHashAggregate, candidates broadcast") {
    val p = planOf("q_heavy_hitters")
    withClue(p) {
      assert(p.contains("ObjectHashAggregate"))
      assert(p.contains("BroadcastHashJoin"))
    }
  }

  test("time range join: bucket equi-join, no cartesian/NLJ on the data path") {
    val p = planOf("q_time_range_join")
    withClue(p) {
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("order cadence: both window families share one shuffle") {
    val p = planOf("q_order_cadence")
    withClue(p) {
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    }
  }

  test("decontaminate: benchmark shingles broadcast to the corpus side") {
    val p = planOf("q_decontaminate")
    withClue(p) {
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("t-closeness: one customer scan, bounded sides broadcast") {
    val p = planOf("q_t_closeness")
    withClue(p) {
      // cells is localCheckpointed; groups/segments/N derive from it,
      // so the raw table is scanned exactly once.
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        "marginals must derive from the cell table, not rescan customer")
      // the |segments| cross and the 1-row total both broadcast
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("kneser-ney: top-k via TakeOrdered, k-row side broadcast into the joins") {
    val p = planOf("q_kneser_ney")
    withClue(p) {
      assert(p.contains("TakeOrderedAndProject"),
        "top-k must be TakeOrdered, not a global sort")
      assert(p.contains("BroadcastHashJoin"),
        "the 20-row side must broadcast into the vocab-sized aggregates")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("containment join: candidate pass is a shingle equi-join, verify on sets") {
    val p = planOf("q_containment_pairs")
    withClue(p) {
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"),
        "size/tie predicates must ride the shingle equi-join, not a NLJ")
    }
  }

  test("mask plan: position explode never carries the word text") {
    val p = planOf("q_mask_plan")
    withClue(p) {
      // the mask is position-keyed: the scan reads (doc_id, text) once
      // per join branch but the exploded side projects only lengths.
      assert(!p.contains("posexplode"),
        "mask positions should come from sequence(), not a token explode")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("forecast revenue (Q6): every predicate reaches the scan, 4-column read") {
    // formatted mode: the simple toString truncates scan metadata
    // (PushedFilters/ReadSchema) at 100 chars.
    val p = SparkEntry.queries("q_forecast_revenue")(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    withClue(p) {
      assert(p.contains("PushedFilters"))
      assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
        p.contains("LessThan(l_quantity,24.0)") &&
        p.contains("GreaterThanOrEqual(l_discount,0.05)"))
      // Column pruning: the scan must not read the full 11-column row.
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
        s"scan reads more columns than projected: $readSchema")
    }
  }

  test("waiting suppliers (Q21): one flagged pass, aggregate EXISTS, no quadratic path") {
    // r19: the semi/anti pair collapsed into the order-keyed aggregate
    // (EXISTS other supplier ⇔ n_supp ≥ 2, NOT EXISTS other late ⇔
    // n_late_supp = 1), so the lineitem⋈orders subtree must appear
    // exactly ONCE — the old shape re-derived it three times.
    val p = planOf("q_waiting_suppliers")
    withClue(p) {
      assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
        "the decorrelated EXISTS pair regressed back to semi/anti re-derivations")
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("BroadcastNestedLoopJoin"))
      val lineitemScans = "lineitem\\.parquet".r.findAllIn(p).length
      assert(lineitemScans == 1,
        s"expected exactly one lineitem scan, got $lineitemScans")
    }
  }

  test("PQ ANN: encode is a hash-agg argmin (no SortAggregate), LUT broadcasts") {
    val p = planOf("q_ann_pq")
    withClue(p) {
      assert(!p.contains("SortAggregate"),
        "PQ encode regressed to a sort aggregate")
      assert(p.contains("BroadcastHashJoin"))
    }
  }

  test("no cartesian product in any query plan; no artifact built after prebuild") {
    // A fresh copy, so prebuild really builds every artifact here and a
    // query that reads one prebuild skipped would build it in the loop.
    // Building a query must also leave the session conf as it found it.
    val src = java.nio.file.Paths.get(sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-prebuild-sf")
    val files = java.nio.file.Files.list(src)
    try files.forEach(f => java.nio.file.Files.copy(f, dir.resolve(f.getFileName)))
    finally files.close()
    try {
      Indexes.prebuild(spark, dir.toString)
      def builds = Indexes.declared.map(a => a.name -> a.builds).toMap
      val before = builds
      val conf = spark.conf.getAll
      for ((name, fn) <- SparkEntry.queries) {
        val p = fn(spark, dir.toString).queryExecution.executedPlan.toString
        val confNow = spark.conf.getAll
        if (confNow != conf) fail(s"$name changed the session conf: " +
          s"${(confNow.toSet diff conf.toSet) ++ (conf.toSet diff confNow.toSet)}")
        withClue(s"$name:\n$p") {
          assert(!p.contains("CartesianProduct"),
            s"$name uses a cartesian product")
        }
        val late = builds.filter { case (a, n) => before.get(a) != Some(n) }
        assert(late.isEmpty,
          s"$name built ${late.keys.mkString(", ")} after Indexes.prebuild")
      }
    } finally {
      plans.MvCatalog.deregisterPrefix(s"quarterly_revenue:$dir")
      plans.MvCatalog.deregisterPrefix(s"quarterly_revenue_rollup:$dir")
      plans.MvCatalog.deregisterPrefix(s"nation_revenue:$dir")
      sources.SnapshotCatalog.deleteTree(dir)
    }
  }

  test("no plan node evaluates the same digest more than 4 times") {
    // The q_quantile_sketch lesson (r15): a 32-term expression over a
    // projected md5 alias gets the digest INLINED into every term by
    // projection collapse / predicate pushdown — 32 digests per row
    // instead of one, 4 s of a 5.3 s query at sf0.1. The cure is the
    // OptimizerBarrier on the alias; this guard catches the class
    // registry-wide: within any single optimized-plan node, the same
    // canonicalized md5 call may appear at most 4 times (distinct
    // inputs — e.g. reshard's 12 per-shard hashes — are fine; it is
    // REPETITION of one digest that signals collapse gone wrong).
    val expensive = Set("md5", "sha1", "sha2", "levenshtein",
      "aggregate", "transform", "array_sort", "regexp_replace")
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      val worst = plan.collect { case node =>
        val counts = node.expressions
          .flatMap(_.collect {
            case e if expensive(e.prettyName) => (e.prettyName, e.canonicalized)
          })
          .groupBy(identity).view.mapValues(_.size)
        if (counts.isEmpty) ("", 0) else counts.maxBy(_._2) match {
          case ((fn2, _), n) => (fn2, n)
        }
      }
      val (fname, max) =
        if (worst.isEmpty) ("", 0) else worst.maxBy(_._2)
      assert(max <= 4,
        s"$name: one plan node evaluates the same $fname $max times — " +
          "pin the alias behind OptimizerBarrier (see quantileSketchOf)")
    }
  }

  test("entity resolution: candidates come from a blocking-key hash join") {
    // The ER scale contract: the pair space is generated by an
    // EQUI-join on the blocking key (never a nested-loop over n²
    // records), and the Levenshtein verify stays out of the join
    // condition (it must run on bucket-mates only, once per pair).
    val p = planOf("q_er_parts")
    withClue(p) {
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        "blocking join regressed from a hash/sort-merge equi-join")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"))
      val joinLine = p.linesIterator.find(_.contains("Join")).getOrElse("")
      assert(!joinLine.contains("levenshtein"),
        "edit-distance verify leaked into the join condition")
    }
  }

  test("no unpartitioned window runs over an unbounded input") {
    // An unpartitioned Window pulls its ENTIRE input through a single
    // task — fine when the input is already cardinality-bounded (the
    // output of an aggregate or a limit: post-agg top-k ranks), fatal on
    // a fact-table input at scale (the r7 q_equidepth_hist weak plan,
    // fixed by Profiling.equidepthOf — this guard would have caught it).
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, Join, LeafNode, LogicalPlan, Window => LWindow}
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: LeafNode => false
      case j: Join => bounded(j.left) && bounded(j.right)
      case other => other.children.nonEmpty && other.children.forall(bounded)
    }
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      val offenders = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      withClue(s"$name:\n${offenders.map(_.simpleString(200)).mkString("\n")}") {
        assert(offenders.isEmpty,
          s"$name runs an unpartitioned window over a non-aggregated input")
      }
    }
  }

  test("equidepth histograms: exact rank is distributed, no global window at all") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // Grouped form included: its window must be partitioned by
    // (range-partition id, group), never by the group alone — a
    // PARTITION BY source window serializes a dominant source through
    // one task just like the global form does the whole table.
    for (name <- Seq("q_equidepth_hist", "q_source_deciles")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      val globals = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
        case w: LWindow if !w.partitionSpec.exists(
          _.references.exists(_.name == "pid")) => w
      }
      withClue(s"$name:\n${globals.map(_.simpleString(200)).mkString("\n")}") {
        assert(globals.isEmpty,
          s"$name must not plan a window unpartitioned or partitioned " +
            "only by the data's own group — exact ranks come from range " +
            "partitions + broadcast offsets")
      }
    }
  }

  test("no nested-loop join evaluates compute-heavy expressions in its condition") {
    // BroadcastNestedLoopJoin conditions run interpreted, per candidate
    // pair, BEFORE cheaper conjuncts — an expensive expression there is
    // an O(n²) interpreted hot loop (the r2 q_dedup_embedding bug:
    // Catalyst inlined round(cosinesim(..)) >= 0.45 into the BNLJ
    // condition). Conditions must stay cheap comparisons; expensive
    // projections belong behind an OptimizerBarrier above the join.
    val expensive = Seq("cosinesim", "dotconst", "lshbands", "round(",
      "sqrt", "aggregate(", "zip_with", "transform(", "levenshtein", "md5")
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      val bnljLines = p.linesIterator.filter(_.contains("NestedLoopJoin")).toSeq
      withClue(s"$name:\n${bnljLines.mkString("\n")}") {
        assert(!bnljLines.exists(l => expensive.exists(l.toLowerCase.contains)),
          s"$name evaluates an expensive expression inside a nested-loop join condition")
      }
    }
  }

  // ---- Shared-chain reuse as a PLAN invariant (verdict r12 №4) ----
  // The eval companions are SPECIFIED to serve their probe/code/
  // isotonic chains from the build-once persisted artifacts; at 100 TB
  // a recomputed probe chain is the dominant eval cost. These tests
  // make that a scan-count assertion, not a prose claim. Artifact
  // tempdir tokens match the createTempDirectory prefixes.

  private def scanCount(p: String, token: String): Int =
    java.util.regex.Pattern.quote(token).r.findAllIn(p).length

  test("IVF ANN serves the probe chain from the persisted index") {
    val p = planOf("q_ann_ivf")
    withClue(p) {
      assert(scanCount(p, "graft-ivf-ix") >= 1,
        "q_ann_ivf must scan the persisted IVF index parquet")
      assert(scanCount(p, "embeddings.parquet") == 0,
        "q_ann_ivf re-scans the embedding corpus — probe chain recomputed")
    }
  }

  test("recall/NDCG eval joins run off ONE materialized pass per ranked list") {
    for (q <- Seq("q_ann_recall", "q_retrieval_ndcg")) {
      val p = planOf(q)
      withClue(s"$q:\n$p") {
        assert(scanCount(p, "embeddings.parquet") == 0 &&
          scanCount(p, "graft-ivf-ix") == 0,
          s"$q re-plans a search chain per reference instead of " +
            "reusing the checkpointed ranked list")
        assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
          s"$q: expected checkpointed ranked lists to feed the eval")
      }
    }
  }

  test("recall sweep reuses ONE materialized pass of each ranked list for all k") {
    val p = planOf("q_recall_sweep")
    withClue(p) {
      assert(scanCount(p, "embeddings.parquet") == 0 &&
        scanCount(p, "graft-ivf-ix") == 0,
        "sweep arms must be cut from the checkpointed lists, not re-searched")
      assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
        "expected the checkpointed ranked lists to feed the sweep")
    }
  }

  test("IVF-PQ serves from BOTH persisted halves; corpus floats untouched") {
    val p = planOf("q_ann_ivfpq")
    withClue(p) {
      assert(scanCount(p, "embeddings.parquet") == 0,
        "IVF-PQ query time must not touch corpus floats")
      assert(scanCount(p, "graft-pq-codes") == 1,
        "exactly one scan of the persisted PQ code table")
      assert(scanCount(p, "graft-ivf-ix") >= 1,
        "centroids/assignments must come from the persisted IVF index")
    }
  }

  test("calibrated Brier runs off the score-cum artifact, never the corpus") {
    val p = planOf("q_brier_calibrated")
    withClue(p) {
      assert(scanCount(p, "events.parquet") == 0,
        "brier must not re-scan the events corpus")
      val cums = scanCount(p, "graft-score-cum")
      assert(cums >= 1 && cums <= 2,
        s"score-cum artifact scans: $cums (want 1-2: rows + total); " +
          "the isotonic chain itself must feed from its checkpoint")
    }
  }
}
