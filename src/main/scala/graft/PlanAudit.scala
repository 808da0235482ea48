package graft

/** Prints formatted physical plans for the headline queries so scan
  * pushdown / broadcast / codegen spans can be audited (and regressions
  * spotted between rounds). Not part of the driver contract.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create("plan-audit")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    names.foreach { name =>
      println(s"\n########## $name ##########")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
