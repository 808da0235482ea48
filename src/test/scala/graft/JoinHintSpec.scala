package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Join-strategy HINTS — the escape hatch when statistics are wrong
  * (stale ANALYZE, opaque UDF selectivity, first run on fresh data):
  * every strategy the planner can pick is user-forcible from SQL or
  * the DataFrame API, which is what an operator reaches for at 3am
  * when one join in a 100 TB DAG picks the wrong side. Each hint is
  * pinned to the physical operator it must produce, plus the result
  * parity that proves a hint can change the PLAN but never the
  * ANSWER.
  */
class JoinHintSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession =
    GraftSession.create("join-hint-spec", cores = "4")

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  test("each join-strategy hint forces its physical operator") {
    // Threshold off: nothing broadcasts on its own, so every strategy
    // below is the hint's doing.
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
      val dim = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))

      def planOf(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.sparkPlan.toString

      val expected = fact.join(dim.hint("merge"),
        col("o_custkey") === col("c_custkey")).count()

      val bc = fact.join(broadcast(dim),
        col("o_custkey") === col("c_custkey"))
      assert(planOf(bc).contains("BroadcastHashJoin"))
      assert(bc.count() == expected)

      val smj = fact.join(dim.hint("merge"),
        col("o_custkey") === col("c_custkey"))
      assert(planOf(smj).contains("SortMergeJoin"))

      val shj = fact.join(dim.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      assert(planOf(shj).contains("ShuffledHashJoin"))
      assert(shj.count() == expected)

      // The SQL face: a /*+ SHUFFLE_MERGE */ comment-hint reaches the
      // same planner seam as the DataFrame .hint call.
      fact.createOrReplaceTempView("hint_fact")
      dim.createOrReplaceTempView("hint_dim")
      val sqlHinted = spark.sql(
        """SELECT /*+ SHUFFLE_MERGE(hint_dim) */ count(*)
          |FROM hint_fact JOIN hint_dim ON o_custkey = c_custkey""".stripMargin)
      assert(planOf(sqlHinted).contains("SortMergeJoin"))
      assert(sqlHinted.collect()(0).getLong(0) == expected)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("a one-row total broadcasts by size at every SF; a grouped side's estimate grows") {
    // Why the operators leave one-row and fixed-size sides unhinted:
    // the planner's estimate of a global aggregate is one row of its
    // output, before and after localCheckpoint (which keeps the origin
    // estimate), so it stays under the threshold at any data size. A
    // grouped aggregate's estimate scales with its input, which is why
    // the pins on grouped sides stay.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def estimate(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    case class AtSf(fact: DataFrame, total: DataFrame, totalEst: BigInt,
        checkpointedEst: BigInt, groupedEst: BigInt)
    val Seq(small, large) = Seq("/root/testdata/sf0.001",
        "/root/testdata/sf0.01").map { d =>
      val fact = Tables.lineitem(spark, d)
      val total = fact.agg(sum("l_quantity").as("total_qty"))
      val grouped = fact.groupBy("l_suppkey").agg(sum("l_quantity").as("qty"))
      // The grouped side as an equi-join sees it.
      val groupedSide = fact.join(grouped, "l_suppkey").queryExecution
        .optimizedPlan.collectFirst { case a: Aggregate => a }.get
      AtSf(fact, total, estimate(total), estimate(total.localCheckpoint()),
        groupedSide.stats.sizeInBytes)
    }
    assert(small.totalEst == large.totalEst &&
      small.checkpointedEst == large.checkpointedEst,
      s"total estimates differ across SFs: $small vs $large")
    assert(large.totalEst < threshold && large.checkpointedEst < threshold)
    assert(large.groupedEst > small.groupedEst * 5, "grouped estimate did " +
      s"not grow with the data: ${small.groupedEst} -> ${large.groupedEst}")

    val joins = large.fact.crossJoin(large.total).queryExecution.sparkPlan
      .collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.size == 1 && joins.head.buildSide == BuildRight &&
      joins.head.right.output.map(_.name) == Seq("total_qty"),
      s"unhinted crossJoin(total) did not broadcast the total: $joins")
  }
}
