package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `sbt "runMain graft.PlanAudit <sfDir> <outDir> [query...]"` writes the
  * final executed plan of every SQL execution, one file per query, so that
  * `diff -r` of two dumps shows whether a change moved any plan: first each
  * corpus artifact build (`_prebuild/<name>.txt`), then each query (default:
  * all) run to `noop`, with its build-time jobs (`<query>.txt`). Per-run ids
  * are normalized away: `#id`, `plan_id=`, `@hash`, lambda classes, temp-dir
  * suffixes, and the query-stage and codegen-stage numbers AQE assigns as
  * stages complete. Not part of the driver contract. */
object PlanAudit {
  private val perRunIds = Seq("#\\d+L?" -> "#", "plan_id=\\d+" -> "plan_id=",
    "QueryStage \\d+" -> "QueryStage", "\\*\\(\\d+\\)" -> "*", "@[0-9a-f]{4,}" -> "@",
    "\\$Lambda[$\\d]*/0x[0-9a-f]+" -> "\\$Lambda",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>",
    // Files.createTempDirectory appends a random long to its prefix.
    "(/graft-[A-Za-z_-]*?[A-Za-z_])-?\\d{6,}" -> "$1")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = Paths.get(args(1))
    val spark = GraftSession.create("plan-audit")
    val plans = new ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def record(what: String, qe: QueryExecution): Unit = plans.add(s"== $what ==\n" +
        scala.util.Try(qe.executedPlan.treeString).getOrElse("<no plan>"))
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(f, qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(s"$f FAILED", qe)
    })
    def dump(name: String)(run: => Unit): Unit = {
      try run catch { case e: Throwable => plans.add(s"== FAILED: $e ==") }
      GraftSqlShim.drainListeners(spark)
      val text = Iterator.continually(plans.poll()).takeWhile(_ != null).map(p =>
        perRunIds.foldLeft(p) { case (s, (re, to)) => s.replaceAll(re, to) })
      val file = outDir.resolve(s"$name.txt")
      Files.createDirectories(file.getParent)
      Files.writeString(file, text.mkString("", "\n", "\n"))
    }
    Indexes.declared.foreach(a => dump(s"_prebuild/${a.name}")(a.path(spark, sfDir)))
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(name => dump(name) {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    })
    spark.stop()
  }
}
