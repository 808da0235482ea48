package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{FileSchemaRegistry, OrderStream, Topology}

/** The streaming workload over `Topology.outcomeStream`: a JSON
  * "topic" directory fed by the benchmark's own generator, the Confluent
  * codec against a `FileSchemaRegistry`, validation, the retry executor
  * on RocksDB, and a `foreachBatch` sink that collects each batch's
  * outcomes into the benchmark process and stamps when they became visible.
  */
object StreamWorkloads {
  /** Constant delay before a retry attempt. */
  val retryDelayMs = 100L
  /** Trigger interval of the topology starts and of the priming run. */
  val triggerMs = 100L
  /** stream-catchup: priming files, then a backlog of large files. The
    * first retry of a primed event waits `primeDelayMs`, so retryables
    * are pending in the state store when the query stops. */
  val primeFiles = 2
  val primeEvents = 2000
  val primeDelayMs = 4000L
  val backlogEvents = 8000
  /** stream-catchup restarts per run; `recovery_s` is their median. */
  val restartRounds = 3
  /** Topology starts measured per run; `setup_s` uses their median. */
  val starts = 3

  // ------------------------------------------------------------ events

  final case class Ev(id: Long, kind: String, value: Double, createdMs: Long)

  /** Seeded event mix after the `events` table: about 20% `error`
    * (retryable), 1% non-positive prices (permanent), the rest valid. */
  final class EventGen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private var nextId = 0L
    private val kinds = Array("click", "view", "purchase", "signup")
    def next(n: Int, createdMs: Long): IndexedSeq[Ev] = (0 until n).map { _ =>
      val kind = if (rnd.nextDouble() < 0.2) "error" else kinds(rnd.nextInt(4))
      val value =
        if (rnd.nextDouble() < 0.01) -math.floor(rnd.nextDouble() * 100)
        else math.round((0.01 - 50 * math.log(1 - rnd.nextDouble())) * 100) / 100.0
      nextId += 1
      Ev(nextId, kind, value, createdMs)
    }
  }

  /** Write a topic file elsewhere, then rename it in. */
  def writeFile(src: Path, name: String, evs: Seq[Ev]): Unit = {
    val sb = new StringBuilder
    evs.foreach { e =>
      sb ++= s"""{"event_id":${e.id},"event_type":"${e.kind}","value":${e.value},"ts":${e.createdMs * 1000000L}}""" + "\n"
    }
    val tmp = src.getParent.resolve(s".staging-$name")
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The terminal (route, retry_count) the validation rules and the
    * md5-derived recovery attempt give for an event. */
  def expected(e: Ev): (String, Int) =
    if (e.value <= 0) ("dlq", 0)
    else if (e.kind == "error") {
      val r = recoverAttempt(e.id.toString)
      if (r <= 3) ("main", r) else ("dlq", 3)
    } else ("main", 0)

  /** Attempt at which a retry succeeds: 1 + (first 32 bits of
    * md5("<id>:recover")) mod 5. */
  def recoverAttempt(id: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:recover".getBytes("UTF-8"))
    val hi = d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xff))
    (1 + hi % 5).toInt
  }

  def immediate(e: Ev): Boolean = e.value <= 0 || e.kind != "error"

  // ------------------------------------------------------------ sink

  final case class Out(id: Long, route: String, retries: Int,
      scheduledMs: Long, emittedMs: Long, eventMs: Long, visibleMs: Long)

  /** Collects each batch's outcomes, keyed by batch id so a batch re-run
    * after a restart replaces its first delivery. */
  final class Sink {
    val batches = new ConcurrentHashMap[Long, Array[Out]]()
    @volatile var lastCallMs = 0L
    val fn: (Dataset[OrderStream.RetryOutcome], Long) => Unit = (ds, id) => {
      val rows = ds.toDF().select("event_id", "route", "retry_count",
        "scheduled_ms", "emitted_ms", "event_ms").collect()
      val now = System.currentTimeMillis()
      val outs = rows.map(r => Out(r.getString(0).toLong, r.getString(1),
        r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5), now))
      batches.put(id, outs)
      outs.foreach(o => seenIds.add(o.id))
      lastCallMs = now
    }
    /** Ids with an outcome, kept as batches arrive so that polling it
      * costs the benchmark little CPU while the job runs. */
    private val seenIds = ConcurrentHashMap.newKeySet[Long]()
    def seen(id: Long): Boolean = seenIds.contains(id)
    def seenAll(ids: Iterable[Long]): Boolean = ids.forall(seen)
    def all: Seq[Out] = batches.values().asScala.toSeq.flatten
  }

  // ------------------------------------------------------------ topology

  final case class Reg(dir: String, v1: Int, v2: Int)

  def registry(dir: Path): Reg = {
    val reg = new FileSchemaRegistry(dir.toString)
    val v1 = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(Topology.wireV1))
    val v2 = reg.register("orders-value",
      new org.apache.avro.Schema.Parser().parse(Topology.wireV2))
    Reg(dir.toString, v1, v2)
  }

  def start(spark: SparkSession, src: Path, chk: Path, reg: Reg,
      trigger: Trigger, delay: (String, Int) => Long, sink: Sink): StreamingQuery =
    Topology.outcomeStream(spark, src.toString, reg.dir, reg.v1, reg.v2, delay)
      .writeStream
      .option("checkpointLocation", chk.toString)
      .trigger(trigger)
      .foreachBatch(sink.fn)
      .start()

  def session(cores: String = "*"): SparkSession = {
    val s = graft.GraftSession.create("perfbench-stream", cores)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  def await(what: String, timeoutMs: Long, q: StreamingQuery)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > end) {
        Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
          System.err.println(s"thread ${t.getName}\n  " + st.take(25).mkString("\n  "))
        }
        throw new IllegalStateException(s"timed out waiting for $what")
      }
      Thread.sleep(20)
    }
  }

  final class Dirs(root: Path) {
    private var n = 0
    def fresh(name: String): (Path, Path) = {
      n += 1
      val base = root.resolve(s"$name-$n")
      val src = base.resolve("topic")
      Files.createDirectories(src)
      (src, base.resolve("checkpoint"))
    }
  }

  /** Starts the topology on a one-file topic and times the start call
    * to the first completed batch, `starts` times. */
  def setupStarts(spark: SparkSession, reg: Reg, dirs: Dirs, seed: Long): Seq[Double] =
    (1 to starts).map { i =>
      val (src, chk) = dirs.fresh("warm")
      writeFile(src, "part-0.json", new EventGen(seed + 7919L * i).next(200, System.currentTimeMillis()))
      val sink = new Sink
      val t0 = System.nanoTime()
      val q = start(spark, src, chk, reg, Trigger.ProcessingTime(triggerMs),
        (_, _) => retryDelayMs, sink)
      try await("first batch", 120000, q)(!sink.batches.isEmpty)
      finally q.stop()
      Stats.secondsSince(t0)
    }

  /** Exactly one terminal outcome per offered event, with the expected
    * route and retry count; returns the number of events that fail. */
  def check(offered: Seq[Ev], sink: Sink): Long = {
    val byId = sink.all.groupBy(_.id)
    val known = offered.map(_.id).toSet
    val stray = byId.keys.count(id => !known(id))
    val bad = offered.count { e =>
      byId.get(e.id) match {
        case Some(Seq(o)) => (o.route, o.retries) != expected(e)
        case _ => true
      }
    }
    if (bad + stray > 0)
      System.err.println(s"[perfbench] outcome check: $bad offered events wrong, $stray stray outcomes")
    bad + stray
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  // ------------------------------------------------------------ layers

  /** Per-batch medians over the data-carrying batches of a traced pass. */
  def batchLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def d(k: String): Double = Stats.median(data.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)))
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      Stats.median(data.map(_.stateOperators.map(f).sum))
    val last = ps.lastOption
    Map(
      "source.latest_offset_ms" -> d("latestOffset"),
      "source.get_batch_ms" -> d("getBatch"),
      "stream.query_planning_ms" -> d("queryPlanning"),
      "topology.add_batch_ms" -> d("addBatch"),
      "topology.trigger_ms" -> d("triggerExecution"),
      "topology.batch_rows" -> Stats.mean(data.map(_.numInputRows.toDouble)),
      "wal.wal_commit_ms" -> d("walCommit"),
      "wal.commit_offsets_ms" -> d("commitOffsets"),
      "state.rows_total" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "state.commit_ms" -> st(_.commitTimeMs.toDouble),
      "state.updates_ms" -> st(_.allUpdatesTimeMs.toDouble),
      "state.removals_ms" -> st(_.allRemovalsTimeMs.toDouble),
      "state.sst_bytes" -> last.map(_.stateOperators.map(op =>
        op.customMetrics.asScala.collect {
          case (k, v) if k.toLowerCase.contains("sstfilesize") => v.longValue()
        }.sum).sum.toDouble).getOrElse(0.0))
  }

  /** The phase with the largest median share of a data batch. */
  def bottleneck(ps: Seq[StreamingQueryProgress]): String = {
    val data = ps.filter(_.numInputRows > 0)
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val med = phases.map(k => k -> Stats.median(data.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0))))
    val commit = Stats.median(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
    val trig = Stats.median(data.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue()).getOrElse(0.0)))
    val (k, v) = med.maxBy(_._2)
    f"$k ($v%.0f of $trig%.0f ms per batch; state commit inside addBatch $commit%.0f ms)"
  }

  /** Plan phases per batch: the sink's collect is each batch's one
    * planned action. */
  def planLayers(pl: PlanCounters, batches: Double): Map[String, Double] = Map(
    "plans.analysis_s" -> pl.analysisMs / 1000.0 / batches,
    "plans.optimization_s" -> pl.optimizationMs / 1000.0 / batches,
    "plans.planning_s" -> pl.planningMs / 1000.0 / batches,
    "plans.broadcast_joins" -> pl.broadcastJoins / batches,
    "plans.sort_merge_joins" -> pl.sortMergeJoins / batches,
    "plans.exchanges" -> pl.exchanges / batches)

  def execLayers(e: ExecCounters, units: Double, wallS: Double, cores: Int,
      peak: Long): Map[String, Double] = Map(
    "exec.s" -> e.jobWallMs / 1000.0 / units,
    "exec.jobs" -> e.jobs / units,
    "exec.stages" -> e.stages / units,
    "exec.tasks" -> e.tasks / units,
    "exec.task_run_s" -> e.taskRunMs / 1000.0 / units,
    "exec.gc_s" -> e.gcMs / 1000.0 / units,
    "exec.job_wait_s" -> e.jobWaitMs / 1000.0 / units,
    "exec.core_busy_share" -> e.taskRunMs / 1000.0 / (wallS * cores),
    "exec.input_bytes" -> e.inputBytes / units,
    "exec.shuffle_write_bytes" -> e.shuffleWriteBytes / units,
    "exec.shuffle_read_bytes" -> e.shuffleReadBytes / units,
    "exec.spill_bytes" -> e.spillBytes / units,
    "exec.peak_exec_memory_bytes" -> peak.toDouble)

  // ------------------------------------------------------------ catchup

  /** Per restart round: latencies, drain rate and recovery time. */
  final case class CatchupOut(offered: Seq[Ev], failed: Long, latencies: Seq[Seq[Double]],
      rates: Seq[Double], recoveries: Seq[Double], drainS: Double, pendingAtStop: Int,
      timerLateMs: Double, progress: Seq[StreamingQueryProgress], checkpointBytes: Long,
      backlogFiles: Int)

  /** Prime, stop, then `rounds` times: stage a backlog, restart with no
    * trigger interval, drain, stop. Retries still pending at a stop are
    * recovered from the state store by the next restart. */
  def catchupPass(spark: SparkSession, reg: Reg, dirs: Dirs, seed: Long,
      backlogFiles: Int, rounds: Int, tracer: Option[Tracer]): CatchupOut = {
    val (src, chk) = dirs.fresh("catchup")
    val sink = new Sink
    val gen = new EventGen(seed)
    val primedMaxId = primeFiles.toLong * primeEvents
    // A primed event's first retry waits until after the restart; every
    // other retry waits the short constant delay.
    val delay: (String, Int) => Long = (id, a) =>
      if (a == 0 && id.toLong <= primedMaxId) primeDelayMs else retryDelayMs
    val primed = (0 until primeFiles).flatMap { k =>
      val evs = gen.next(primeEvents, System.currentTimeMillis())
      writeFile(src, f"part-$k%05d.json", evs)
      evs
    }
    val q = start(spark, src, chk, reg, Trigger.ProcessingTime(triggerMs), delay, sink)
    val primedIds = primed.filter(immediate).map(_.id).toSet
    await("primed outcomes", 120000, q)(sink.seenAll(primedIds))
    q.stop()
    val pending = primed.count(e => !sink.seen(e.id))
    tracer.foreach(_.progress.clear())
    var fileNo = primeFiles
    val perRound = math.max(backlogFiles / rounds, 1)
    // (backlog files, restart instant, recovery seconds, drain seconds)
    val offered = scala.collection.mutable.ArrayBuffer.empty[Ev] ++= primed
    val done = (1 to rounds).map { r =>
      val backlog = (0 until perRound).map { _ =>
        val evs = gen.next(backlogEvents, System.currentTimeMillis())
        writeFile(src, f"part-$fileNo%05d.json", evs)
        fileNo += 1
        evs
      }
      offered ++= backlog.flatten
      val callsBefore = sink.lastCallMs
      val restartMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val q2 = start(spark, src, chk, reg, Trigger.ProcessingTime(0L), delay, sink)
      try {
        await("first batch after restart", 120000, q2)(sink.lastCallMs != callsBefore)
        val recoveryS = Stats.secondsSince(t0)
        val ids = backlog.flatten.filter(immediate).map(_.id).toSet
        await("backlog drained", 170000, q2)(sink.seenAll(ids))
        val drainS = Stats.secondsSince(t0)
        // The last round runs on until every event has its outcome.
        if (r == rounds) {
          val all = offered.map(_.id).toSet
          await("terminal outcomes", 60000, q2)(sink.seenAll(all))
        }
        (backlog, restartMs, recoveryS, drainS)
      } finally q2.stop()
    }
    val outs = sink.all
    val visible = outs.map(o => o.id -> o.visibleMs).toMap
    // Per round: a file is drained when its last immediate outcome is
    // visible; the rate counts the files after the round's first.
    val rates = done.map { case (backlog, _, _, _) =>
      val fileDone = backlog.map(f => f.filter(immediate).map(e => visible(e.id)).max)
      val first = fileDone.min
      val after = backlog.zip(fileDone).filter(_._2 > first)
      after.map(_._1.size).sum / ((fileDone.max - first) / 1000.0)
    }
    // Latency of a backlog event: restart call to its outcome, per round.
    val lat = done.map { case (backlog, restartMs, _, _) =>
      backlog.flatten.filter(immediate).map(e => (visible(e.id) - restartMs).toDouble)
    }
    val timerLate = outs.filter(_.retries > 0).map(o => (o.emittedMs - o.scheduledMs).toDouble)
    tracer.foreach(_.drain())
    CatchupOut(offered.toSeq, check(offered.toSeq, sink), lat, rates,
      done.map(_._3), done.map(_._4).sum, pending,
      Stats.median(timerLate), tracer.map(_.progress.asScala.toSeq).getOrElse(Nil),
      dirBytes(chk), perRound)
  }

  def catchup(a: Main.Args): RunResult = {
    val root = Paths.get(a.work)
    val backlogFiles = math.max(a.seconds, 2)
    val (spark0, sessionS) = Stats.timed(session())
    var spark = spark0
    val dirs = new Dirs(root)
    val (reg, regS) = Stats.timed(registry(root.resolve("registry")))
    val startsS = setupStarts(spark, reg, dirs, a.seed)
    val setupS = sessionS + regS + Stats.median(startsS)
    val r = catchupPass(spark, reg, dirs, a.seed, backlogFiles, restartRounds, None)
    val layers = if (!a.trace) Map.empty[String, Double] else {
      val tr = new Tracer(spark)
      tr.install()
      val e0 = tr.execSnapshot(); val p0 = tr.planSnapshot(); tr.takePeakMemory()
      val t = catchupPass(spark, reg, dirs, a.seed, backlogFiles, restartRounds, Some(tr))
      val e = tr.execSnapshot() - e0
      val pl = tr.planSnapshot() - p0
      tr.uninstall()
      // Overhead: the traced pass against an untraced pass right after it.
      // The gated pass before it ran on a colder JVM, so it is no baseline.
      val after = catchupPass(spark, reg, dirs, a.seed, backlogFiles, restartRounds, None)
      val batches = math.max(t.progress.count(_.numInputRows > 0), 1).toDouble
      val m = batchLayers(t.progress) ++ planLayers(pl, batches) ++
        execLayers(e, batches, t.drainS, spark.sparkContext.defaultParallelism, tr.takePeakMemory()) ++ Map(
        "session.create_s" -> sessionS,
        "source.lag_files" -> t.backlogFiles.toDouble,
        "state.checkpoint_bytes" -> t.checkpointBytes.toDouble,
        "timers.lateness_ms" -> t.timerLateMs,
        "trace.overhead_share" -> (Stats.median(after.rates) / Stats.median(t.rates) - 1.0))
      val codec = Codec.eventsPerSecond(spark, a)
      tr.write(Paths.get(a.out, s"trace-stream-catchup-seed${a.seed}.json"),
        Map("stream-catchup.bottleneck" -> bottleneck(t.progress),
          "stream-catchup.pending_at_stop" -> t.pendingAtStop.toString))
      // Single-threaded baseline: the same pass on local[1], not gated.
      spark.stop()
      spark = session("1")
      val dirs1 = new Dirs(root.resolve("local1"))
      val b = catchupPass(spark, registry(root.resolve("registry1")), dirs1, a.seed,
        math.max(backlogFiles / 6, 2), 1, None)
      if (b.failed > 0) System.err.println("[perfbench] local[1] baseline had wrong outcomes")
      m ++ Map("codec.events_per_s" -> codec,
        "baseline_local1.throughput_per_s" -> Stats.median(b.rates),
        "baseline_local1.recovery_s" -> Stats.median(b.recoveries))
    }
    spark.stop()
    RunResult(
      attempted = r.offered.size,
      failed = r.failed,
      e2e = Map(
        "setup_s" -> setupS,
        "throughput_per_s" -> Stats.median(r.rates),
        "latency_p50_ms" -> Stats.median(r.latencies.map(l => Stats.median(l))),
        "latency_p90_ms" -> Stats.median(r.latencies.map(l => Stats.quantile(l, 0.9))),
        "recovery_s" -> Stats.median(r.recoveries)),
      layers = layers,
      notes = Seq(
        s"stream-catchup: ${primeFiles}x${primeEvents} primed events, ${r.pendingAtStop} pending at stop; " +
          s"${restartRounds} restarts, each with a backlog of ${r.backlogFiles}x${backlogEvents} events; " +
          s"first retry of a primed event after ${primeDelayMs} ms, other retries after a constant ${retryDelayMs} ms",
        f"drain ${r.drainS}%.1f s over the restarts; recoveries " +
          r.recoveries.map(x => f"$x%.2f").mkString(", ") + " s"))
  }
}
