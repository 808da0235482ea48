package graftbench

/** Entry point of the graft benchmark. One call runs one workload:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s>
  *                   --trace <0|1> --data <dir> --work <dir> --out <dir>
  *
  * `--data` holds the registry tables (see gen_data.py), `--work` is a
  * work directory the run may fill and the caller deletes, `--out`
  * keeps the span file of a traced run. The last stdout line is the
  * result object; the lines before it are a human-readable report.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, out: String)

  val workloads: Seq[String] = Seq("registry", "stream-catchup")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", need("--data"),
      need("--work"), need("--out"))
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.out))
    val res = a.workload match {
      case "registry"       => RegistryWorkload.run(a)
      case "stream-catchup" => StreamWorkloads.catchup(a)
    }
    Report.print(a, res)
    // Spark leaves non-daemon threads behind; the result is printed.
    System.out.flush()
    sys.exit(0)
  }
}

/** What one workload run measured. `e2e` and `layers` are keyed by the
  * metric names of [[Report]]; `notes` go to the report only. */
final case class RunResult(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    notes: Seq[String])

object Report {
  /** End-to-end metrics: every workload reports every one. */
  val e2e: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "recovery_s" -> "s")

  /** Per-layer metrics of a traced run. A layer the workload does not
    * exercise reads 0. Registry figures are means per query execution;
    * stream figures are medians per data-carrying micro-batch. */
  val layers: Seq[(String, String)] = Seq(
    "session.create_s" -> "s",
    "indexes.prebuild_s" -> "s",
    "indexes.warm_pass_s" -> "s",
    "operators.build_s" -> "s",
    "operators.build_jobs" -> "count",
    "plans.analysis_s" -> "s",
    "plans.optimization_s" -> "s",
    "plans.planning_s" -> "s",
    "plans.broadcast_joins" -> "count",
    "plans.sort_merge_joins" -> "count",
    "plans.exchanges" -> "count",
    "exec.s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_run_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.job_wait_s" -> "s",
    "exec.core_busy_share" -> "ratio",
    "exec.input_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.peak_exec_memory_bytes" -> "bytes",
    "source.latest_offset_ms" -> "ms",
    "source.get_batch_ms" -> "ms",
    "source.lag_files" -> "count",
    "stream.query_planning_ms" -> "ms",
    "topology.add_batch_ms" -> "ms",
    "topology.trigger_ms" -> "ms",
    "topology.batch_rows" -> "count",
    "codec.events_per_s" -> "1/s",
    "state.rows_total" -> "count",
    "state.memory_bytes" -> "bytes",
    "state.commit_ms" -> "ms",
    "state.updates_ms" -> "ms",
    "state.removals_ms" -> "ms",
    "state.sst_bytes" -> "bytes",
    "state.checkpoint_bytes" -> "bytes",
    "timers.lateness_ms" -> "ms",
    "wal.wal_commit_ms" -> "ms",
    "wal.commit_offsets_ms" -> "ms",
    "baseline_local1.throughput_per_s" -> "1/s",
    "baseline_local1.recovery_s" -> "s",
    "trace.build_share" -> "ratio",
    "trace.plan_share" -> "ratio",
    "trace.exec_share" -> "ratio",
    "trace.overhead_share" -> "ratio")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def print(a: Main.Args, r: RunResult): Unit = {
    val metrics = if (a.trace) layers else e2e
    val values = metrics.map { case (n, u) =>
      (n, u, if (a.trace) r.layers.getOrElse(n, 0.0) else r.e2e(n)) }
    val failedShare = r.failed.toDouble / math.max(r.attempted, 1L)
    val valuesOk = a.trace || values.forall { case (_, _, v) =>
      !v.isNaN && !v.isInfinite && v > 0 }
    val correct = r.failed == 0 && r.attempted > 0 && valuesOk
    r.notes.foreach(n => println(s"# $n"))
    println(f"# workload=${a.workload} seed=${a.seed} seconds=${a.seconds}" +
      s" trace=${if (a.trace) 1 else 0}")
    values.foreach { case (n, u, v) => println(f"# $n%-34s ${num(v)}%s $u") }
    println(f"# ${"failed_share"}%-34s ${num(failedShare)}%s ratio")
    if (!valuesOk) println("# a metric was not measured (zero or undefined)")
    val body = values.map { case (n, u, v) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$body}}""")
  }
}
