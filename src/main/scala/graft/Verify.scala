package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one registered query and dump its result parquet. A query that
    * throws must be LOUD, not silently absent from the correctness
    * artifact: its output slot gets a one-row `_verify_error` marker
    * parquet (the driver's compare then reports a schema/hash mismatch
    * for that name instead of dropping the row) and the failure is
    * collected for `_ERRORS.json`. Round 8 shipped 20 broken queries
    * precisely because this path used to swallow the exception —
    * `VerifySpec` pins the marker behavior. */
  private[graft] def runOne(spark: SparkSession, sfDir: String, outDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      errors: java.util.concurrent.ConcurrentHashMap[String, String]): Unit = {
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      System.err.println(s"[verify] $name FAILED: $msg")
      errors.put(name, msg)
      try {
        import spark.implicits._
        Seq(msg.take(500)).toDF("_verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case _: Throwable => () }
    }
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — extra args restrict the dump
    // to a subset (builder-local parity checks); the driver always
    // passes exactly two, which dumps the whole registry.
    val sfDir = args(0); val outDir = args(1)
    val subset = args.drop(2).toSet
    val spark = GraftSession.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Spark schedules jobs from concurrent submitter threads; most
    // verify queries are small, so 6-way submission keeps all cores
    // busy instead of paying each query's planning latency in series.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .map { case (name, fn) =>
      scala.concurrent.Future(runOne(spark, sfDir, outDir, name, fn, errors))
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    import scala.jdk.CollectionConverters._
    val errJson = errors.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_ERRORS.json"), errJson)
    if (!errors.isEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED — see _ERRORS.json")
    spark.stop()
  }
}
