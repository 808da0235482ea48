package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway the library needs: turning a custom
  * `LogicalPlan` node into a `DataFrame`. Spark exposes every other
  * extension point publicly (`SparkSessionExtensions`,
  * `experimental.extraStrategies`), but plan construction itself is
  * `Dataset.ofRows`, which is package-private — so this shim lives in
  * `org.apache.spark.sql`, the standard pattern for Spark-native
  * extension libraries.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Expression bridges (classic.ExpressionUtils is
    * private[sql] in Spark 4). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** EAGER column→expression conversion: `ExpressionUtils.expression`
    * wraps non-trivial column nodes (UDF/UDAF invocations) in a lazy
    * `ColumnNodeExpression` that only Dataset-API resolution unwraps —
    * dropped raw into a plan from a SQL function builder it reaches
    * codegen unresolved and dies. This runs the classic converter
    * immediately, yielding the real Catalyst expression
    * (e.g. `ScalaAggregator` for a typed-Aggregator UDAF). */
  def convertedExpression(
      c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Deliver every posted listener event (`listenerBus` is private[spark]). */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
