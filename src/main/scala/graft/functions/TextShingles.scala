package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingles(text)` — distinct word n-gram extraction as a single
  * codegen'd Catalyst expression.
  *
  * Semantics match `array_distinct(transform(sequence(0, size(t)-n), i ->
  * concat_ws(' ', t[i], ..., t[i+n-1])))` over `t = split(lower(text),
  * '\s+')`, but in ONE pass over the string with no per-row lambda
  * interpretation: Catalyst evaluates higher-order-function lambdas on
  * the interpreted path per element, which made shingling the dominant
  * cost of every n-gram dedup operator. A window-function formulation
  * (posexplode + lead) avoids the lambdas but pays two full shuffles of
  * the token table — untenable at corpus scale. This expression costs
  * zero shuffles and stays inside the surrounding whole-stage-codegen
  * span (codegen calls back into the instance via `addReferenceObj`,
  * same design as the Avro codec expressions here).
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def shingle(text: UTF8String): ArrayData = {
    // Spark `lower` + `split(_, "\s+")` parity: UTF8String.toLowerCase,
    // then Java regex split with limit -1 (keeps trailing empty tokens,
    // exactly like Spark's StringSplit default).
    val toks = text.toLowerCase.toString.split("\\s+", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    // LinkedHashSet: dedupe preserving first occurrence, like
    // array_distinct.
    val seen = mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    new GenericArrayData(
      seen.iterator.map(UTF8String.fromString(_): Any).toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    shingle(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.shingle($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  /** Column-level API: the distinct word `n`-grams of `text`. */
  def apply(text: Column, n: Int): Column =
    GraftSqlShim.column(Shingles(GraftSqlShim.expression(text), n))
}

/** `shingles_all(text, n)` — POSITIONAL word n-grams: element i of the
  * result is the n-gram starting at token i (NOT deduplicated, order
  * preserved), so `posexplode(shingles_all(text, n))` yields the
  * (position, shingle) occurrence index that span-level dedup needs.
  * Same single-pass, zero-shuffle, codegen-resident design as
  * [[Shingles]]; semantics match `transform(sequence(0, size(t)-n),
  * i -> concat_ws(' ', slice(t, i+1, n)))` over `t = split(lower(text),
  * '\s+')` without the interpreted per-element lambda.
  */
case class ShinglesAll(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  def shingle(text: UTF8String): ArrayData = {
    val toks = text.toLowerCase.toString.split("\\s+", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    shingle(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shinglesAll", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.shingle($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesAll =
    copy(child = newChild)
}

object ShinglesAll {
  /** Column-level API: the positional word `n`-grams of `text`. */
  def apply(text: Column, n: Int): Column =
    GraftSqlShim.column(ShinglesAll(GraftSqlShim.expression(text), n))
}
