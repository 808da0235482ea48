package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

/** Counters summed over the jobs of a window. */
final case class ExecCounters(jobs: Long = 0, stages: Long = 0,
    tasks: Long = 0, taskRunMs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, shuffleWriteBytes: Long = 0,
    shuffleReadBytes: Long = 0, spillBytes: Long = 0, jobWallMs: Long = 0,
    jobWaitMs: Long = 0) {
  def -(o: ExecCounters): ExecCounters = ExecCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    gcMs - o.gcMs, inputBytes - o.inputBytes,
    shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    jobWallMs - o.jobWallMs, jobWaitMs - o.jobWaitMs)
}

/** Counters from the query-execution listener. */
final case class PlanCounters(analysisMs: Long = 0,
    optimizationMs: Long = 0, planningMs: Long = 0, broadcastJoins: Long = 0,
    sortMergeJoins: Long = 0, exchanges: Long = 0) {
  def -(o: PlanCounters): PlanCounters = PlanCounters(analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs,
    broadcastJoins - o.broadcastJoins, sortMergeJoins - o.sortMergeJoins,
    exchanges - o.exchanges)
}

/** One span of the traced run. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, attrs: Map[String, Double] = Map.empty)

/** The benchmark's own listeners and span store. Nothing in graft knows
  * about it: it registers on the session like any user listener, and
  * spans stay in memory until [[write]] at the end of the run. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile private var currentParent = -1

  def span(name: String, parent: Int, startMs: Long, endMs: Long,
      attrs: Map[String, Double] = Map.empty): Int = spans.synchronized {
    nextId += 1
    spans += Span(nextId, parent, name, startMs, endMs, attrs)
    nextId
  }

  /** Runs `body` as a span, a child of the enclosing one; spans the
    * listeners record meanwhile become its children. */
  def within[A](name: String)(body: => A): A = {
    val id = spans.synchronized { nextId += 1; nextId }
    val parent = currentParent
    currentParent = id
    val t0 = System.currentTimeMillis()
    try body
    finally {
      currentParent = parent
      spans.synchronized {
        spans += Span(id, parent, name, t0, System.currentTimeMillis())
      }
    }
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  // ------------------------------------------------------------ jobs

  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val jobParent = mutable.Map.empty[Int, Int]
  private var exec = ExecCounters()
  private var peakMem = 0L

  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStartMs(e.jobId) = e.time
      jobParent(e.jobId) = currentParent
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobTasks(e.jobId) = mutable.ArrayBuffer.empty
      exec = exec.copy(jobs = exec.jobs + 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { exec = exec.copy(stages = exec.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        exec = exec.copy(tasks = exec.tasks + 1,
          taskRunMs = exec.taskRunMs + m.executorRunTime,
          gcMs = exec.gcMs + m.jvmGCTime,
          inputBytes = exec.inputBytes + m.inputMetrics.bytesRead,
          shuffleWriteBytes =
            exec.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes =
            exec.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          spillBytes = exec.spillBytes + m.diskBytesSpilled)
        peakMem = math.max(peakMem, m.peakExecutionMemory)
      }
      stageJob.get(e.stageId).flatMap(jobTasks.get)
        .foreach(_ += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val start = jobStartMs.remove(e.jobId).getOrElse(e.time)
      val wall = math.max(e.time - start, 0L)
      val busy = unionLength(jobTasks.remove(e.jobId).getOrElse(Nil).toSeq)
      exec = exec.copy(jobWallMs = exec.jobWallMs + wall,
        jobWaitMs = exec.jobWaitMs + math.max(wall - busy, 0L))
      span(s"job ${e.jobId}", jobParent.remove(e.jobId).getOrElse(-1),
        start, e.time, Map("busy_ms" -> busy.toDouble))
    }
  }

  /** Length of the union of [start, end] intervals. */
  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def execSnapshot(): ExecCounters = jobListener.synchronized(exec)

  /** Peak task execution memory since the previous call. */
  def takePeakMemory(): Long = jobListener.synchronized {
    val p = peakMem; peakMem = 0L; p
  }

  // ------------------------------------------------------------ plans

  private var plan = PlanCounters()

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val parent = currentParent
    ph.foreach { case (k, s) =>
      span(s"plan.$k", parent, s.startTimeMs, s.endTimeMs) }
    val (bhj, smj, ex) =
      try {
        val p: SparkPlan = qe.executedPlan
        (collectWithSubqueries(p) { case j: BroadcastHashJoinExec => j }.size,
          collectWithSubqueries(p) { case j: SortMergeJoinExec => j }.size,
          collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size)
      } catch { case _: Throwable => (0, 0, 0) }
    synchronized {
      plan = PlanCounters(plan.analysisMs + ms("analysis"),
        plan.optimizationMs + ms("optimization"),
        plan.planningMs + ms("planning"), plan.broadcastJoins + bhj,
        plan.sortMergeJoins + smj, plan.exchanges + ex)
    }
  }

  def planSnapshot(): PlanCounters = synchronized(plan)

  // ------------------------------------------------------------ streams

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(p)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      def get(k: String): Long =
        Option(d.get(k)).map(_.longValue()).getOrElse(0L)
      val id = span(s"batch ${p.batchId}", -1, start,
        start + get("triggerExecution"),
        Map("rows" -> p.numInputRows.toDouble))
      // Phases in the order MicroBatchExecution runs them.
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").foreach { k =>
        val ms = get(k)
        span(s"batch.$k", id, t, t + ms)
        t += ms
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  // ------------------------------------------------------------ output

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }

  /** Writes every span plus the run's findings as one JSON file. */
  def write(path: java.nio.file.Path, findings: Map[String, String]): Unit = {
    val all = spans.synchronized(spans.toList).sortBy(s => (s.startMs, s.id))
    val sb = new StringBuilder
    sb ++= "{\"findings\": {"
    sb ++= findings.toSeq.sorted.map { case (k, v) =>
      s""""${esc(k)}": "${esc(v)}"""" }.mkString(", ")
    sb ++= "},\n\"spans\": [\n"
    sb ++= all.map { s =>
      val attrs = s.attrs.map { case (k, v) =>
        s""""${esc(k)}": ${Report.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${esc(s.name)}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "attrs": {$attrs}}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
