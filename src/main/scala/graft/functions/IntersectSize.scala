package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** `sorted_intersect_size(a, b)` — count of common elements between two
  * string arrays that are each SORTED ascending (binary UTF8 order, i.e.
  * what `sort_array` produces) and duplicate-free, as one codegen'd
  * merge.
  *
  * This is the verify kernel of the PPJoin exact similarity join
  * (Dedup.jaccardVerifyFromSets): per candidate pair we need only the SIZE
  * of the shingle-set intersection, but `size(array_intersect(x, y))`
  * pays for a per-row hash set build, per-element string hashing, AND
  * materializing the intersection array that `size` immediately throws
  * away — measured at sf0.1 it was ~75% of the whole operator's wall
  * time. The sorted merge does one linear pass of byte-compares with
  * zero allocation, and the `sort_array` it requires is done ONCE per
  * document in the sets aggregate, not once per candidate pair.
  * Stays inside the surrounding whole-stage-codegen span (codegen calls
  * back into the instance via `addReferenceObj`, same design as
  * [[Shingles]]).
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    intersectCount(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedIntersectSize", this)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.intersectCount($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Column-level API: both inputs must be sorted ascending (use
    * `sort_array`) and duplicate-free. */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      SortedIntersectSize(
        org.apache.spark.sql.GraftSqlShim.expression(a),
        org.apache.spark.sql.GraftSqlShim.expression(b)))
}

/** `l2sq(a, b)` — squared L2 distance between two equal-length LONG
  * arrays as one codegen'd loop of exact integer arithmetic: the
  * distance kernel of quantized-vector clustering (k-means over int8
  * codes), where a HOF `aggregate(zip_with(...))` pays interpreted
  * per-element lambda dispatch. Same codegen-resident design as
  * [[SortedIntersectSize]]. */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  def dist(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var i = 0
    var s = 0L
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    dist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2sq", this)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.dist($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  /** Column-level API: equal-length array<long> operands. */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      L2Sq(
        org.apache.spark.sql.GraftSqlShim.expression(a),
        org.apache.spark.sql.GraftSqlShim.expression(b)))
}
