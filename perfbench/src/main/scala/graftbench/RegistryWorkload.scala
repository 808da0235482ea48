package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `registry` workload: one client runs a fixed subset of
  * `SparkEntry.queries` serially (closed loop) through the `noop` sink.
  *
  * Subset rule. Strata are (build-call job count: <=1 | >=2) x (wall-time
  * quartile), measured over all registered queries on the benchmark's
  * tables; each stratum contributes the first query, in md5-of-name order,
  * whose result fingerprint is the same at 2 and 4 cores and on a re-run.
  * [[RecordReference]] measures the strata and applies the rule; its
  * record, registry_strata.tsv, is where the subset is read from. The
  * reference surface (SURVEY section 2.1 rows 1-8: price aggregator,
  * validation, DLQ routing and DLQ stats) is always in.
  */
object RegistryWorkload {
  /** Cores of the registry session: fixed, so a run does not depend on
    * the host's size; on a 4-core host the other cores are left to the
    * driver, JIT and GC threads. */
  val cores = "2"

  def session(cores: String = cores): SparkSession =
    graft.GraftSession.create("perfbench-registry", cores)

  val referenceSurface: Seq[String] = Seq(
    "q_price_stats_by_product", "q_overall_stats", "q_running_avg",
    "q_top_products_by_count", "q_typed_stats", "q_validate_events",
    "q_dlq_route", "q_dlq_stats_by_type", "q_dlq_stats_by_product")

  /** One query per stratum: the `pick` rows of registry_strata.tsv. */
  lazy val stratified: Seq[String] =
    resource("/registry_strata.tsv").drop(1).filter(_.last == "pick").map(_.head)

  lazy val subset: Seq[String] = referenceSurface ++ stratified

  /** Untimed passes between the checked warm pass and the timed window. */
  val warmUpPasses = 1

  /** Session restarts per run, each followed by the reference surface;
    * `recovery_s` is their median. */
  val restarts = 3

  /** The tab-separated rows of a resource file, without `#` comments. */
  def resource(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"$name is missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).toList
    finally in.close()
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ------------------------------------------------------------ checks

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (math.abs(d) < 1e-9) "0" else "%.6g".format(d)
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Order-insensitive fingerprint of a result: row count plus the md5 of
    * the sorted canonical rows (doubles to 6 significant digits). */
  def fingerprint(df: DataFrame): String = fingerprintOf(df.collect())

  def fingerprintOf(collected: Array[Row]): String = {
    val rows = collected.map(canon).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }

  def reference(): Map[String, String] =
    resource("/registry_reference.tsv").map(p => p(0) -> p(1)).toMap

  // ------------------------------------------------------------ run

  final case class Exec(wallS: Double, ok: Boolean)

  def run(a: Main.Args): RunResult = {
    val ref = reference()
    val queries = graft.SparkEntry.queries
    subset.foreach(n => require(queries.contains(n), s"$n is not registered"))

    // Set-up: session, every corpus index, a warm pass that runs each
    // query once and checks its result against the reference, then
    // untimed warm-up passes.
    val (spark0, sessionS) = Stats.timed(session())
    var spark = spark0
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val (_, prebuildS) = Stats.timed(graft.Indexes.prebuild(spark, a.data))
    val mismatched = scala.collection.mutable.Set.empty[String]
    // The warm pass's query time (build and collect) counts as set-up;
    // the benchmark's own hashing of the collected rows does not.
    var warmS = 0.0
    subset.foreach { n =>
      val (rows, s) = Stats.timed(
        try Right(queries(n)(spark, a.data).collect()) catch { case e: Throwable => Left(e) })
      warmS += s
      val fp = rows.fold(e => {
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}"); "error" }, fingerprintOf)
      if (!ref.get(n).contains(fp)) {
        mismatched += n
        System.err.println(s"[perfbench] $n fingerprint $fp != reference ${ref.getOrElse(n, "-")}")
      }
    }

    def order(p: Int): Seq[String] =
      new scala.util.Random(a.seed * 1000003L + p).shuffle(subset)
    def pass(p: Int, body: String => Exec): Seq[Exec] = order(p).map(body)

    def runOne(n: String): Exec = {
      val t0 = System.nanoTime()
      val ok = try { noop(queries(n)(spark, a.data)); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.getMessage}"); false }
      Exec(Stats.secondsSince(t0), ok && !mismatched(n))
    }

    // Pass throughput still climbs for a few passes after the checked one
    // while the JIT compiles. One untimed pass takes the steepest part; the
    // run reports medians over passes, so a slower first timed pass does
    // not set them.
    val (_, warmUpS) = Stats.timed((1 to warmUpPasses).foreach(p => pass(-p, runOne)))
    val setupS = sessionS + prebuildS + warmS + warmUpS

    // Whole passes until `seconds` have gone by, each timed on its own.
    val passes = Seq.newBuilder[(Seq[Exec], Double)]
    val w0 = System.nanoTime()
    var np = 0
    while (np == 0 || Stats.secondsSince(w0) < a.seconds) {
      passes += Stats.timed(pass(np, runOne)); np += 1
    }
    val timedPasses = passes.result()
    val timed = timedPasses.flatMap(_._1)
    val windowS = Stats.secondsSince(w0)

    // Per-layer split: a second, half-length window whose passes alternate
    // between untraced and traced, so the overhead compares like with like.
    val layers = tracer.map { tr =>
      val builds = scala.collection.mutable.ArrayBuffer.empty[Double]
      val e0 = tr.execSnapshot(); val p0 = tr.planSnapshot()
      var buildJobs = 0L
      var peak = 0L
      def tracedOne(n: String): Exec = {
        val t0 = System.nanoTime()
        // Each span drains the listener bus before it closes, so the jobs
        // and plan phases of its calls become its children.
        val ok = tr.within(s"query $n") {
          val j0 = tr.execSnapshot().jobs
          val (df, bS) = Stats.timed(tr.within("build") {
            val d = try Some(queries(n)(spark, a.data)) catch { case _: Throwable => None }
            tr.drain()
            d
          })
          buildJobs += tr.execSnapshot().jobs - j0
          builds += bS
          tr.within("execute") {
            val ok = df.exists(d => try { noop(d); true } catch { case _: Throwable => false })
            tr.drain()
            ok
          }
        }
        peak = math.max(peak, tr.takePeakMemory())
        Exec(Stats.secondsSince(t0), ok && !mismatched(n))
      }
      val plain = Seq.newBuilder[Exec]
      val traced = Seq.newBuilder[Exec]
      val w0 = System.nanoTime()
      var p = 0
      while (p < 2 || Stats.secondsSince(w0) < a.seconds / 2.0) {
        if (p % 2 == 0) plain ++= pass(1000 + p, runOne)
        else {
          tr.install()
          traced ++= pass(1000 + p, tracedOne)
          tr.uninstall()
        }
        p += 1
      }
      val (untracedRuns, tracedRuns) = (plain.result(), traced.result())
      val e = tr.execSnapshot() - e0
      val pl = tr.planSnapshot() - p0
      val k = tracedRuns.size.toDouble
      val cores = spark.sparkContext.defaultParallelism
      val wallSum = tracedRuns.map(_.wallS).sum
      val buildSum = builds.sum
      val planS = (pl.analysisMs + pl.optimizationMs + pl.planningMs) / 1000.0
      val findings = Map(
        "registry.build_share" -> f"${buildSum / wallSum}%.3f",
        "registry.plan_share" -> f"${planS / wallSum}%.3f",
        "registry.exec_share" -> f"${(e.jobWallMs / 1000.0) / wallSum}%.3f",
        "registry.core_busy_share" -> f"${e.taskRunMs / 1000.0 / (wallSum * cores)}%.3f",
        "registry.traced_executions" -> tracedRuns.size.toString)
      tr.write(java.nio.file.Paths.get(a.out, s"trace-registry-seed${a.seed}.json"), findings)
      Map(
        "session.create_s" -> sessionS,
        "indexes.prebuild_s" -> prebuildS,
        "indexes.warm_pass_s" -> warmS,
        "operators.build_s" -> buildSum / k,
        "operators.build_jobs" -> buildJobs / k,
        "plans.analysis_s" -> pl.analysisMs / 1000.0 / k,
        "plans.optimization_s" -> pl.optimizationMs / 1000.0 / k,
        "plans.planning_s" -> pl.planningMs / 1000.0 / k,
        "plans.broadcast_joins" -> pl.broadcastJoins / k,
        "plans.sort_merge_joins" -> pl.sortMergeJoins / k,
        "plans.exchanges" -> pl.exchanges / k,
        "exec.s" -> e.jobWallMs / 1000.0 / k,
        "exec.jobs" -> e.jobs / k,
        "exec.stages" -> e.stages / k,
        "exec.tasks" -> e.tasks / k,
        "exec.task_run_s" -> e.taskRunMs / 1000.0 / k,
        "exec.gc_s" -> e.gcMs / 1000.0 / k,
        "exec.job_wait_s" -> e.jobWaitMs / 1000.0 / k,
        "exec.core_busy_share" -> e.taskRunMs / 1000.0 / (wallSum * cores),
        "exec.input_bytes" -> e.inputBytes / k,
        "exec.shuffle_write_bytes" -> e.shuffleWriteBytes / k,
        "exec.shuffle_read_bytes" -> e.shuffleReadBytes / k,
        "exec.spill_bytes" -> e.spillBytes / k,
        "exec.peak_exec_memory_bytes" -> peak.toDouble,
        "codec.events_per_s" -> Codec.eventsPerSecond(spark, a),
        "trace.build_share" -> buildSum / wallSum,
        "trace.plan_share" -> planS / wallSum,
        "trace.exec_share" -> (e.jobWallMs / 1000.0) / wallSum,
        "trace.overhead_share" ->
          (Stats.median(tracedRuns.map(_.wallS)) / Stats.median(untracedRuns.map(_.wallS)) - 1.0))
    }.getOrElse(Map.empty)

    // Recovery: stop the session, start a new one and answer the reference
    // surface. Indexes built at set-up stay on disk.
    val recoveries = (1 to restarts).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      val ok = referenceSurface.map(runOne).forall(_.ok)
      (Stats.secondsSince(t0), ok)
    }
    spark.stop()

    // Per-pass figures; a run reports their median, so a stall that hits
    // one pass does not set the run's number.
    def perPass(f: Seq[Double] => Double): Double =
      Stats.median(timedPasses.map { case (p, _) => f(p.map(_.wallS)) })
    val failed = timed.count(!_.ok) + recoveries.count(!_._2)
    RunResult(
      attempted = timed.size + recoveries.size,
      failed = failed,
      e2e = Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> Stats.median(timedPasses.map { case (p, s) => p.size / s }),
        "latency_p50_ms" -> perPass(w => Stats.median(w)) * 1000,
        "latency_p90_ms" -> perPass(w => Stats.quantile(w, 0.9)) * 1000,
        "recovery_s" -> Stats.median(recoveries.map(_._1))),
      layers = layers,
      notes = Seq(
        s"registry subset: ${subset.size} queries, ${timed.size} timed executions in ${timedPasses.size} passes, ${"%.1f".format(windowS)} s",
        "executions per second by pass: " +
          timedPasses.map { case (p, s) => f"${p.size / s}%.2f" }.mkString(" "),
        f"set-up: session $sessionS%.1f s, prebuild $prebuildS%.1f s, checked warm pass $warmS%.1f s, " +
          f"warm-up ($warmUpPasses untimed passes) $warmUpS%.1f s",
        s"fingerprint mismatches: ${if (mismatched.isEmpty) "none" else mismatched.mkString(",")}"))
  }
}
