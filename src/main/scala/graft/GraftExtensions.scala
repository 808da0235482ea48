package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{AvroOrder, FromAvroOrder, FromAvroOrderV2, ToAvroOrder, TryFromAvroOrder}

/** Library entry point for `spark.sql.extensions`: registers the graft
  * SQL functions on every session, so a user of the library runs
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * and `to_avro_order` / `from_avro_order` work in plain SQL across the
  * cluster. The operators build the same expressions through their
  * Column-level constructors (`ToAvroOrder(col)`, `Shingles(col, n)`,
  * ...), so they need no per-session registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.AvroRoundTripElision)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // Materialized-view rewrite at END OF ANALYSIS (not optimization):
    // ahead of predicate pushdown, a restatement with a residual
    // filter on view columns still contains the pristine defining
    // Aggregate, so the structural match fires and the main optimizer
    // then pushes the residual into the VIEW parquet scan. No-op while
    // MvCatalog is empty. See plans/MvRewrite.scala.
    ext.injectPostHocResolutionRule(_ => graft.plans.MvRewrite)
    ext.injectFunction((
      new FunctionIdentifier("to_avro_order"),
      new ExpressionInfo(classOf[ToAvroOrder].getName, "to_avro_order"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        AvroOrder.toAvroBuilder(args)))
    ext.injectFunction((
      new FunctionIdentifier("from_avro_order"),
      new ExpressionInfo(classOf[FromAvroOrder].getName, "from_avro_order"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        AvroOrder.fromAvroBuilder(args)))
    ext.injectFunction((
      new FunctionIdentifier("try_from_avro_order"),
      new ExpressionInfo(classOf[TryFromAvroOrder].getName, "try_from_avro_order"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TryFromAvroOrder(AvroOrder.exactlyOne("try_from_avro_order", args))))
    ext.injectFunction((
      new FunctionIdentifier("from_avro_order_v2"),
      new ExpressionInfo(classOf[FromAvroOrderV2].getName, "from_avro_order_v2"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FromAvroOrderV2(AvroOrder.exactlyOne("from_avro_order_v2", args))))
    // The vector/set kernels, SQL-visible for parity with the Column
    // APIs: sorted_intersect_size(a, b) (PPJoin verify merge) and
    // l2sq(a, b) (quantized k-means distance).
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(
        classOf[graft.functions.SortedIntersectSize].getName,
        "sorted_intersect_size"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(a, b) => graft.functions.SortedIntersectSize(a, b)
          case other => throw new IllegalArgumentException(
            s"sorted_intersect_size(a, b) takes 2 args, got ${other.size}")
        }))
    ext.injectFunction((
      new FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(
        classOf[graft.functions.HilbertIndex].getName, "hilbert_index"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(a, b) => graft.functions.HilbertIndex(a, b)
          case other => throw new IllegalArgumentException(
            s"hilbert_index(x, y) takes 2 args, got ${other.size}")
        }))
    ext.injectFunction((
      new FunctionIdentifier("l2sq"),
      new ExpressionInfo(classOf[graft.functions.L2Sq].getName, "l2sq"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(a, b) => graft.functions.L2Sq(a, b)
          case other => throw new IllegalArgumentException(
            s"l2sq(a, b) takes 2 args, got ${other.size}")
        }))
    // Text/vector kernels, so a spark.sql.extensions user gets the FULL
    // SQL surface without any Scala call: shingles(text[, n]) (distinct
    // word n-grams), shingles_all(text, n) (positional n-grams), and
    // cosine_sim(a, b) over float vectors.
    ext.injectFunction((
      new FunctionIdentifier("shingles"),
      new ExpressionInfo(
        classOf[graft.functions.Shingles].getName, "shingles"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(text) => graft.functions.Shingles(text, 3)
          case Seq(text, n) => graft.functions.Shingles(
            text, n.eval().asInstanceOf[Number].intValue())
          case other => throw new IllegalArgumentException(
            s"shingles(text[, n]) takes 1-2 args, got ${other.size}")
        }))
    ext.injectFunction((
      new FunctionIdentifier("shingles_all"),
      new ExpressionInfo(
        classOf[graft.functions.ShinglesAll].getName, "shingles_all"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(text, n) => graft.functions.ShinglesAll(
            text, n.eval().asInstanceOf[Number].intValue())
          case other => throw new IllegalArgumentException(
            s"shingles_all(text, n) takes 2 args, got ${other.size}")
        }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(
        classOf[graft.functions.CosineSim].getName, "cosine_sim"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(a, b) => graft.functions.CosineSim(a, b)
          case other => throw new IllegalArgumentException(
            s"cosine_sim(a, b) takes 2 args, got ${other.size}")
        }))
    // The quantile-sketch family, SQL-visible (r15 verdict №8):
    // qsketch_level(h32) is the aggregator's level function as a
    // codegen'd scalar, and qsketch_agg(cents, h32, row_id[, k]) is the
    // typed Aggregator itself as a SQL aggregate — `GROUP BY grp, shard`
    // over it builds exactly the persisted per-shard sketch table
    // (struct<t int, items array<struct<cents, h32, row_id>>>) that
    // `Profiling.sketchRetained` derives relationally, so a plain-SQL
    // user can build/merge sketches without any Scala call.
    ext.injectFunction((
      new FunctionIdentifier("qsketch_level"),
      new ExpressionInfo(
        classOf[graft.functions.QSketchLevel].getName, "qsketch_level"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case Seq(h) => graft.functions.QSketchLevel(
            org.apache.spark.sql.catalyst.expressions.Cast(
              h, org.apache.spark.sql.types.LongType))
          case other => throw new IllegalArgumentException(
            s"qsketch_level(h32) takes 1 arg, got ${other.size}")
        }))
    ext.injectFunction((
      new FunctionIdentifier("qsketch_agg"),
      new ExpressionInfo(
        classOf[graft.functions.QuantileSketch.type].getName, "qsketch_agg"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        args match {
          case _ if args.size == 3 || args.size == 4 =>
            // k parameterizes the Aggregator INSTANCE, so it must be a
            // build-time constant — require foldability and a positive
            // integer up front; eval() on a non-foldable expression
            // (e.g. a column reference) would otherwise surface as an
            // opaque NPE during analysis.
            val usage = "qsketch_agg(cents, h32, row_id[, k]) — k must " +
              "be a positive integer literal"
            val k =
              if (args.size == 4) {
                if (!args(3).foldable) throw new IllegalArgumentException(
                  s"$usage (got non-constant k: ${args(3).sql})")
                args(3).eval() match {
                  case n: Number if n.intValue() > 0 &&
                      n.doubleValue() == n.intValue().toDouble => n.intValue()
                  case bad => throw new IllegalArgumentException(
                    s"$usage (got k = $bad)")
                }
              } else graft.operators.Profiling.QSketchK.toInt
            val udf = org.apache.spark.sql.functions.udaf(
              graft.functions.QuantileSketch.agg(k),
              org.apache.spark.sql.Encoders.tuple(
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong,
                org.apache.spark.sql.Encoders.scalaLong))
            org.apache.spark.sql.GraftSqlShim.convertedExpression(
              udf.apply(args.take(3).map(
                org.apache.spark.sql.GraftSqlShim.column): _*))
          case other => throw new IllegalArgumentException(
            s"qsketch_agg(cents, h32, row_id[, k]) takes 3-4 args, " +
              s"got ${other.size}")
        }))
  }
}
