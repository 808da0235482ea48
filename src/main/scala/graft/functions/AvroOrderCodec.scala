package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Binary Avro codec for the reference's Order record
  * (reference: schemas/order.avsc — orderId string, product string,
  * price float, timestamp long timestamp-millis).
  *
  * The container ships Avro core (avro-1.12.1.jar) but not the spark-avro
  * module, so this is a from-scratch pair of Catalyst expressions. They
  * follow the same design spark-avro uses: per-partition reusable
  * reader/writer/decoder state, and codegen that calls back into the
  * expression instance via `addReferenceObj`, so the surrounding operators
  * stay inside one whole-stage-codegen span.
  */
object AvroOrder {
  val schemaJson: String =
    """{"namespace":"com.bigdata.orders","type":"record","name":"Order",
      |"fields":[{"name":"orderId","type":"string"},
      |{"name":"product","type":"string"},
      |{"name":"price","type":"float"},
      |{"name":"timestamp","type":{"type":"long","logicalType":"timestamp-millis"}}]}"""
      .stripMargin

  lazy val schema: Schema = new Schema.Parser().parse(schemaJson)

  /** Evolved reader schema (the schema-registry compatibility story the
    * reference relies on): `price` promoted float→double (legal Avro
    * resolution) and a new `currency` field with a default — v1 binary
    * payloads decode under it unchanged. */
  val schemaV2Json: String =
    """{"namespace":"com.bigdata.orders","type":"record","name":"Order",
      |"fields":[{"name":"orderId","type":"string"},
      |{"name":"product","type":"string"},
      |{"name":"price","type":"double"},
      |{"name":"timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"currency","type":"string","default":"USD"}]}"""
      .stripMargin

  lazy val schemaV2: Schema = new Schema.Parser().parse(schemaV2Json)

  val sparkTypeV2: StructType = StructType(Seq(
    StructField("orderId", StringType, nullable = true),
    StructField("product", StringType, nullable = true),
    StructField("price", DoubleType, nullable = true),
    StructField("timestamp", LongType, nullable = true),
    StructField("currency", StringType, nullable = true)))

  // Fields are nullable so SQL-side Cast coercion resolves (Cast cannot
  // add NOT NULL); the Avro schema has no null union, so the encoder
  // rejects actual nulls with a clear error instead.
  val sparkType: StructType = StructType(Seq(
    StructField("orderId", StringType, nullable = true),
    StructField("product", StringType, nullable = true),
    StructField("price", FloatType, nullable = true),
    StructField("timestamp", LongType, nullable = true)))

  /** Arity check shared by every SQL builder: a clear
    * wrong-number-of-arguments error instead of silently dropping extra
    * arguments or NoSuchElementException-ing on none. */
  def exactlyOne(name: String, args: Seq[Expression]): Expression = {
    require(args.length == 1,
      s"$name expects exactly 1 argument, got ${args.length}")
    args.head
  }

  /** SQL builder: coerce the struct argument to the exact Order shape
    * (so e.g. an INT timestamp literal casts to LONG instead of failing
    * deep in the encoder). */
  def toAvroBuilder(args: Seq[Expression]): Expression =
    ToAvroOrder(Cast(exactlyOne("to_avro_order", args), sparkType))

  def fromAvroBuilder(args: Seq[Expression]): Expression =
    FromAvroOrder(exactlyOne("from_avro_order", args))
}

/** struct<orderId,product,price,timestamp> → Avro binary. */
case class ToAvroOrder(child: Expression)
    extends UnaryExpression {

  // ExpectsInputTypes is private[sql] in Spark 4; the registered SQL
  // builders and the typed helpers below are the only call sites, so the
  // child is a struct<orderId,product,price,timestamp> by construction.
  override def dataType: DataType = BinaryType

  @transient private lazy val writer =
    new GenericDatumWriter[GenericRecord](AvroOrder.schema)

  def encode(row: InternalRow): Array[Byte] = {
    var i = 0
    while (i < 4) {
      if (row.isNullAt(i))
        throw new IllegalArgumentException(
          s"to_avro_order: field '${AvroOrder.sparkType(i).name}' is null " +
            "but schemas/order.avsc declares no null union")
      i += 1
    }
    val rec = new GenericData.Record(AvroOrder.schema)
    rec.put(0, new Utf8(row.getUTF8String(0).toString))
    rec.put(1, new Utf8(row.getUTF8String(1).toString))
    rec.put(2, java.lang.Float.valueOf(row.getFloat(2)))
    rec.put(3, java.lang.Long.valueOf(row.getLong(3)))
    val out = new ByteArrayOutputStream(64)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("toAvroOrder", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.encode((org.apache.spark.sql.catalyst.InternalRow) $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ToAvroOrder =
    copy(child = newChild)
}

object ToAvroOrder {
  /** Column-level API: `to_avro_order(order)`. */
  def apply(order: Column): Column =
    GraftSqlShim.column(AvroOrder.toAvroBuilder(Seq(GraftSqlShim.expression(order))))
}

/** Avro binary → struct<orderId,product,price,timestamp>. */
case class FromAvroOrder(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = AvroOrder.sparkType

  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](AvroOrder.schema)

  def decode(bytes: Array[Byte]): InternalRow =
    try {
      val dec = DecoderFactory.get().binaryDecoder(bytes, null)
      val rec = reader.read(null, dec)
      InternalRow(
        UTF8String.fromString(rec.get(0).toString),
        UTF8String.fromString(rec.get(1).toString),
        rec.get(2).asInstanceOf[Float],
        rec.get(3).asInstanceOf[Long])
    } catch {
      case e: Exception =>
        throw new IllegalArgumentException(
          s"from_avro_order: malformed Avro Order payload (${bytes.length} bytes); " +
            "use try_from_avro_order to route corrupt records to a DLQ instead",
          e)
    }

  override protected def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fromAvroOrder", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.decode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): FromAvroOrder =
    copy(child = newChild)
}

object FromAvroOrder {
  /** Column-level API: `from_avro_order(bytes)`. */
  def apply(bytes: Column): Column =
    GraftSqlShim.column(FromAvroOrder(GraftSqlShim.expression(bytes)))
}

/** Schema-evolution decode: v1 binary payloads read under the v2 reader
  * schema through Avro's standard resolution (writer = v1, reader = v2):
  * `price` float→double promotion, `currency` filled from its default.
  * This is the consumer-upgrades-first compatibility path a schema
  * registry promises (reference: the registry client in
  * src/utils/kafka_utils.py); no re-encode of the stored stream needed.
  */
case class FromAvroOrderV2(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = AvroOrder.sparkTypeV2

  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](AvroOrder.schema, AvroOrder.schemaV2)

  def decode(bytes: Array[Byte]): InternalRow =
    try {
      val dec = DecoderFactory.get().binaryDecoder(bytes, null)
      val rec = reader.read(null, dec)
      InternalRow(
        UTF8String.fromString(rec.get(0).toString),
        UTF8String.fromString(rec.get(1).toString),
        rec.get(2).asInstanceOf[Double],
        rec.get(3).asInstanceOf[Long],
        UTF8String.fromString(rec.get(4).toString))
    } catch {
      case e: Exception =>
        throw new IllegalArgumentException(
          s"from_avro_order_v2: malformed Avro Order payload (${bytes.length} bytes)", e)
    }

  override protected def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fromAvroOrderV2", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.decode($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): FromAvroOrderV2 =
    copy(child = newChild)
}

object FromAvroOrderV2 {
  /** Column-level API: `from_avro_order_v2(bytes)`. */
  def apply(bytes: Column): Column =
    GraftSqlShim.column(FromAvroOrderV2(GraftSqlShim.expression(bytes)))
}

/** Permissive decode: corrupt/truncated Avro payloads yield NULL instead
  * of failing the job — the streaming consumer then routes NULLs to the
  * DLQ, mirroring the reference's SerializerError → DLQ path
  * (avro_order_consumer.py:189-195). The strict FromAvroOrder is the
  * FAILFAST analogue.
  */
case class TryFromAvroOrder(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = AvroOrder.sparkType
  override def nullable: Boolean = true

  @transient private lazy val strict = FromAvroOrder(child)

  def tryDecode(bytes: Array[Byte]): InternalRow =
    try strict.decode(bytes)
    catch { case _: Exception => null }

  override protected def nullSafeEval(input: Any): Any =
    tryDecode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tryFromAvroOrder", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.tryDecode($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): TryFromAvroOrder =
    copy(child = newChild)
}
