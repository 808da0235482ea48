package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.streaming.{ConfluentWire, FileSchemaRegistry}

/** The ONE Avro row↔record mapping in the engine, for ANY record
  * schema — the surface the reference's registry-backed serializer has
  * (it is constructed around whatever schema the registry names, not
  * one hard-wired record). Everything that writes or reads Avro binary
  * from a Catalyst row goes through here:
  *
  *  - [[ConfluentAvroBridge.sparkType]] maps an Avro schema to the
  *    Spark type the decoded column carries (records→structs,
  *    `["null",T]` unions→nullable, arrays, all primitives, bytes).
  *  - [[AvroRowWriter]]/[[AvroRowReader]] are the unframed binary write
  *    and (resolving) read; the Order expressions in `AvroOrderCodec`
  *    are thin wrappers over them.
  *  - [[ToConfluentAvro]] encodes any struct column under the WRITER
  *    schema a registry id names and frames it `0x00+id+avro`.
  *  - [[FromConfluentAvro]] unframes, resolves the per-message writer
  *    (registry BY ID) against the caller's READER schema, and emits
  *    the reader-shaped struct — mixed-version topics of ANY record
  *    type under one consumer expression.
  *
  * Executor locality: writer schemas and resolving readers are cached
  * per (registry, id[, reader JSON]) in TrieMaps, so the registry is
  * touched once per executor per id.
  */
object ConfluentAvroBridge {

  /** Unwrap a `["null", T]` union to (T, nullable=true); any other
    * union is refused loudly (a general union decodes to no single
    * Spark column type — the registry contract this engine supports is
    * the nullable-field idiom). */
  private def effective(s: Schema): (Schema, Boolean) =
    if (s.getType != Schema.Type.UNION) (s, false)
    else {
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 2 && nonNull.size == 1,
        s"confluent avro bridge: unsupported union $s — only " +
          "[\"null\", T] is supported")
      (nonNull.head, true)
    }

  /** Avro schema → the Spark type its decoded values carry. */
  def sparkType(schema: Schema): DataType = {
    val (s, _) = effective(schema)
    s.getType match {
      case Schema.Type.STRING => StringType
      case Schema.Type.INT => IntegerType
      case Schema.Type.LONG => LongType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.BYTES => BinaryType
      case Schema.Type.RECORD => StructType(s.getFields.asScala.toSeq.map {
        f =>
          val (_, nullable) = effective(f.schema())
          StructField(f.name(), sparkType(f.schema()), nullable)
      })
      case Schema.Type.ARRAY =>
        val (_, elemNullable) = effective(s.getElementType)
        ArrayType(sparkType(s.getElementType), containsNull = elemNullable)
      case t => throw new IllegalArgumentException(
        s"confluent avro bridge: unsupported Avro type $t in $s")
    }
  }

  /** One field's value out of an InternalRow-like accessor, as the Avro
    * runtime object the writer schema wants. */
  private def rowValueToAvro(s0: Schema, row: InternalRow, i: Int): AnyRef = {
    val (s, nullable) = effective(s0)
    if (row.isNullAt(i)) {
      require(nullable,
        s"confluent avro bridge: null in non-nullable field ${s0}")
      null
    } else s.getType match {
      case Schema.Type.STRING => new Utf8(row.getUTF8String(i).toString)
      case Schema.Type.INT => java.lang.Integer.valueOf(row.getInt(i))
      case Schema.Type.LONG => java.lang.Long.valueOf(row.getLong(i))
      case Schema.Type.FLOAT => java.lang.Float.valueOf(row.getFloat(i))
      case Schema.Type.DOUBLE => java.lang.Double.valueOf(row.getDouble(i))
      case Schema.Type.BOOLEAN => java.lang.Boolean.valueOf(row.getBoolean(i))
      case Schema.Type.BYTES => ByteBuffer.wrap(row.getBinary(i))
      case Schema.Type.RECORD =>
        rowToRecord(s, row.getStruct(i, s.getFields.size))
      case Schema.Type.ARRAY =>
        val arr = row.getArray(i)
        arrayToAvro(s, arr)
      case t => throw new IllegalArgumentException(
        s"confluent avro bridge: unsupported Avro type $t")
    }
  }

  private def arrayToAvro(arraySchema: Schema, arr: ArrayData): AnyRef = {
    val (elem, elemNullable) = effective(arraySchema.getElementType)
    val out = new java.util.ArrayList[AnyRef](arr.numElements())
    var j = 0
    while (j < arr.numElements()) {
      if (arr.isNullAt(j)) {
        require(elemNullable, "confluent avro bridge: null array element " +
          "in non-nullable element schema")
        out.add(null)
      } else out.add(elem.getType match {
        case Schema.Type.STRING => new Utf8(arr.getUTF8String(j).toString)
        case Schema.Type.INT => java.lang.Integer.valueOf(arr.getInt(j))
        case Schema.Type.LONG => java.lang.Long.valueOf(arr.getLong(j))
        case Schema.Type.FLOAT => java.lang.Float.valueOf(arr.getFloat(j))
        case Schema.Type.DOUBLE => java.lang.Double.valueOf(arr.getDouble(j))
        case Schema.Type.BOOLEAN => java.lang.Boolean.valueOf(arr.getBoolean(j))
        case Schema.Type.BYTES => ByteBuffer.wrap(arr.getBinary(j))
        case Schema.Type.RECORD =>
          rowToRecord(elem, arr.getStruct(j, elem.getFields.size))
        case Schema.Type.ARRAY =>
          arrayToAvro(elem, arr.getArray(j))
        case t => throw new IllegalArgumentException(
          s"confluent avro bridge: unsupported array element type $t")
      })
      j += 1
    }
    out
  }

  /** Catalyst struct row → GenericRecord under `schema` (field order =
    * the schema's; the caller's struct must be shaped to it, exactly as
    * with the Order expressions). */
  def rowToRecord(schema: Schema, row: InternalRow): GenericRecord = {
    val rec = new GenericData.Record(schema)
    val fields = schema.getFields
    var i = 0
    while (i < fields.size) {
      rec.put(i, rowValueToAvro(fields.get(i).schema(), row, i))
      i += 1
    }
    rec
  }

  private def avroValueToRow(s0: Schema, v: AnyRef): Any = {
    val (s, _) = effective(s0)
    if (v == null) null
    else s.getType match {
      case Schema.Type.STRING => UTF8String.fromString(v.toString)
      case Schema.Type.INT => v.asInstanceOf[java.lang.Integer].intValue()
      case Schema.Type.LONG => v.asInstanceOf[java.lang.Long].longValue()
      case Schema.Type.FLOAT => v.asInstanceOf[java.lang.Float].floatValue()
      case Schema.Type.DOUBLE => v.asInstanceOf[java.lang.Double].doubleValue()
      case Schema.Type.BOOLEAN =>
        v.asInstanceOf[java.lang.Boolean].booleanValue()
      case Schema.Type.BYTES =>
        val buf = v.asInstanceOf[ByteBuffer]
        val bytes = new Array[Byte](buf.remaining())
        buf.duplicate().get(bytes)
        bytes
      case Schema.Type.RECORD => recordToRow(s, v.asInstanceOf[GenericRecord])
      case Schema.Type.ARRAY =>
        val elems = v.asInstanceOf[java.util.Collection[AnyRef]].asScala
          .map(e => avroValueToRow(s.getElementType, e)).toArray
        new GenericArrayData(elems)
      case t => throw new IllegalArgumentException(
        s"confluent avro bridge: unsupported Avro type $t")
    }
  }

  /** Decoded GenericRecord (reader-shaped) → Catalyst struct row. */
  def recordToRow(schema: Schema, rec: GenericRecord): InternalRow = {
    val fields = schema.getFields
    val out = new Array[Any](fields.size)
    var i = 0
    while (i < fields.size) {
      out(i) = avroValueToRow(fields.get(i).schema(), rec.get(i))
      i += 1
    }
    new GenericInternalRow(out)
  }
}

/** Unframed Avro binary under one writer `schema`, from any struct row
  * shaped to it (field order = the schema's). */
final class AvroRowWriter(schema: Schema) {
  private val writer = new GenericDatumWriter[GenericRecord](schema)

  def write(row: InternalRow): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    writer.write(ConfluentAvroBridge.rowToRecord(schema, row), enc)
    enc.flush()
    out.toByteArray
  }
}

/** Unframed Avro binary written under `writer`, resolved against
  * `reader` (promotions, added-field defaults), → a reader-shaped row. */
final class AvroRowReader(writer: Schema, reader: Schema) {
  private val datum = new GenericDatumReader[GenericRecord](writer, reader)

  def read(bytes: Array[Byte]): InternalRow =
    ConfluentAvroBridge.recordToRow(reader,
      datum.read(null, DecoderFactory.get().binaryDecoder(bytes, null)))
}

/** Executor-local caches for the generic codec. */
object ConfluentAvroCodec {
  private val schemaCache = TrieMap.empty[(String, Int), Schema]
  private val readerCache = TrieMap.empty[(String, Int, String), AvroRowReader]

  /** Registry TRANSPORT dispatch — the `schema.registry.url` swap,
    * executed: an `http(s)://` spec resolves through the Confluent REST
    * client ([[graft.streaming.HttpSchemaRegistryClient]]), anything
    * else is a shared-directory file registry. Both implement the same
    * trait, and the per-(spec, id) schema cache above means either
    * transport is touched once per executor per id — one lookup per
    * schema version, never per row, exactly the caching a production
    * Confluent deserializer does. */
  private[graft] def clientFor(
      registry: String): graft.streaming.SchemaRegistryClient =
    if (registry.startsWith("http://") || registry.startsWith("https://"))
      new graft.streaming.HttpSchemaRegistryClient(registry)
    else new FileSchemaRegistry(registry)

  private[graft] def schemaFor(registryDir: String, id: Int): Schema =
    schemaCache.getOrElseUpdate((registryDir, id),
      clientFor(registryDir).byId(id))

  /** Keyed by the reader's JSON text as the caller holds it: this runs
    * per decoded row, and `Schema.toString` re-serializes the schema on
    * every call. */
  private[graft] def readerFor(registryDir: String, writerId: Int,
      readerSchemaJson: String): AvroRowReader =
    readerCache.getOrElseUpdate((registryDir, writerId, readerSchemaJson),
      new AvroRowReader(schemaFor(registryDir, writerId),
        new Schema.Parser().parse(readerSchemaJson)))
}

/** Any struct column → Confluent-framed payload under the WRITER schema
  * that `schemaId` names in the registry (the schema-parameterized
  * producer half — what the reference's AvroSerializer is). */
case class ToConfluentAvro(child: Expression, registryDir: String,
    schemaId: Int) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  @transient private lazy val writer =
    new AvroRowWriter(ConfluentAvroCodec.schemaFor(registryDir, schemaId))

  def encode(row: InternalRow): Array[Byte] =
    ConfluentWire.frame(schemaId, writer.write(row))

  override protected def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("toConfluentAvro", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.encode((org.apache.spark.sql.catalyst.InternalRow) $c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): ToConfluentAvro = copy(child = newChild)
}

/** Confluent-framed payload (ANY writer version in the registry) →
  * struct under the caller's READER schema via registry lookup + Avro
  * schema resolution (the schema-parameterized consumer half). */
case class FromConfluentAvro(child: Expression, registryDir: String,
    readerSchemaJson: String) extends UnaryExpression {

  // Catalyst calls dataType many times per planning pass — parse the
  // reader schema once (recomputed lazily after deserialization on an
  // executor), never per call.
  @transient private lazy val sparkDataType =
    ConfluentAvroBridge.sparkType(new Schema.Parser().parse(readerSchemaJson))

  override def dataType: DataType = sparkDataType

  def decode(bytes: Array[Byte]): InternalRow = {
    val (id, payload) = ConfluentWire.unframe(bytes)
    ConfluentAvroCodec.readerFor(registryDir, id, readerSchemaJson)
      .read(payload)
  }

  override protected def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fromConfluentAvro", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $ref.decode($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): FromConfluentAvro = copy(child = newChild)
}

object ToConfluentAvro {
  def apply(c: org.apache.spark.sql.Column, registryDir: String,
      schemaId: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(ToConfluentAvro(
      org.apache.spark.sql.GraftSqlShim.expression(c), registryDir, schemaId))
}

object FromConfluentAvro {
  def apply(c: org.apache.spark.sql.Column, registryDir: String,
      readerSchemaJson: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftSqlShim.column(FromConfluentAvro(
      org.apache.spark.sql.GraftSqlShim.expression(c), registryDir,
      readerSchemaJson))
}
