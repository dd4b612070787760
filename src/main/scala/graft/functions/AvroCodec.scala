package graft.functions

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Avro deserialization for the CDC wire format (SURVEY.md §2.2 D1–D3).
  *
  * The reference decodes Confluent-framed Avro two ways: registry-resolved
  * per message (reference: main.py:21-22) and statically from a schema
  * file (reference: read_from_kafka.py:8-17). Spark's distribution here
  * ships no spark-avro module, so decoding is a native Catalyst
  * expression over the core Avro library — schema fixed at plan time
  * (the static mode; registry mode = fetch the JSON once, then plan).
  *
  * Wire format (Confluent): [0x00 magic][4-byte BE schema id][avro body]
  * (what reference: main.py:22's AvroDeserializer consumes).
  */
object AvroCodec {

  /** Avro schema → Spark type. Covers records of primitives,
    * union-with-null (→ nullable), arrays, maps, bytes; Debezium logical
    * types (MicroTimestamp) surface as raw longs — conversion is the
    * consumer's job, exactly as in the reference (SURVEY.md §1.2). */
  def sparkType(s: Schema): DataType = s.getType match {
    case Schema.Type.RECORD =>
      StructType(s.getFields.asScala.toSeq.map { f =>
        val (dt, nullable) = fieldType(f.schema())
        StructField(f.name(), dt, nullable)
      })
    case Schema.Type.INT     => IntegerType
    case Schema.Type.LONG    => LongType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.STRING | Schema.Type.ENUM => StringType
    case Schema.Type.BYTES | Schema.Type.FIXED => BinaryType
    case Schema.Type.ARRAY => ArrayType(sparkType(s.getElementType))
    case Schema.Type.MAP   => MapType(StringType, sparkType(s.getValueType))
    case Schema.Type.UNION => fieldType(s)._1
    case t => throw new IllegalArgumentException(s"unsupported avro type $t")
  }

  /** union-with-null → (inner type, nullable=true) */
  private def fieldType(s: Schema): (DataType, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 1, s"only unions with null supported: $s")
      (sparkType(branches.head), true)
    } else (sparkType(s), false)

  private[functions] def toCatalyst(v: Any, s: Schema): Any = v match {
    case null => null
    case _ => s.getType match {
      case Schema.Type.UNION =>
        val branch = s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        toCatalyst(v, branch)
      case Schema.Type.RECORD =>
        val rec = v.asInstanceOf[GenericRecord]
        InternalRow.fromSeq(s.getFields.asScala.toSeq.map(f =>
          toCatalyst(rec.get(f.pos()), f.schema())))
      case Schema.Type.STRING | Schema.Type.ENUM =>
        UTF8String.fromString(v.toString)
      case Schema.Type.BYTES =>
        val bb = v.asInstanceOf[ByteBuffer]
        val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
      case Schema.Type.FIXED =>
        v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes()
      case Schema.Type.ARRAY =>
        new GenericArrayData(v.asInstanceOf[java.util.Collection[Any]]
          .asScala.map(toCatalyst(_, s.getElementType)).toArray)
      case Schema.Type.MAP =>
        val m = v.asInstanceOf[java.util.Map[Any, Any]].asScala
        ArrayBasedMapData(
          m.keys.map(k => UTF8String.fromString(k.toString)).toArray,
          m.values.map(toCatalyst(_, s.getValueType)).toArray)
      case _ => v // int/long/float/double/boolean pass through
    }
  }

  /** Eval-path decode expression (off the hot analytical path; scan-side
    * decode cost is dominated by Kafka IO). Null input → null row
    * (tombstone passthrough). Bespoke, not an [[ObjectCall]]: it holds
    * a stateful decoder (parsed schema, datum reader) per instance. */
  case class AvroDecodeExpression(
      child: Expression,
      schemaJson: String,
      lenient: Boolean = false)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val avroSchema =
      new Schema.Parser().parse(schemaJson)
    @transient private lazy val reader =
      new GenericDatumReader[GenericRecord](avroSchema)

    override def dataType: DataType = sparkType(avroSchema)
    override def nullable: Boolean = true
    override def prettyName: String = "avro_decode"

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      try {
        val decoder =
          DecoderFactory.get.binaryDecoder(bytes, 0, bytes.length, null)
        toCatalyst(reader.read(null, decoder), avroSchema)
      } catch {
        // D7: log-and-continue resilience (reference: main.py:52-55) —
        // lenient mode routes corrupt records to null instead of failing
        // the task.
        case e: Exception if lenient => null
      }
    }

    override protected def withNewChildInternal(newChild: Expression)
        : Expression = copy(child = newChild)
  }

  /** Confluent-framed decode by WRITER schema: reads the 4-byte wire id
    * (bytes 1–4), takes that id's schema from `writers` and decodes with
    * Avro's resolving reader onto `readerJson`, so rows written under
    * any registered version come out in the reader's shape. Fields the
    * writer lacks take the reader field's default (a reader field with
    * no default fails the row, naming the field); writer-only fields are
    * skipped; promotions such as int → long apply. One datum reader per
    * id is built per task. An id missing from `writers` throws. Null
    * input → null row (tombstone passthrough). Bespoke, not an
    * [[ObjectCall]]: it caches one stateful datum reader per writer id. */
  case class AvroDecodeByIdExpression(
      child: Expression,
      writers: Map[Int, String],
      readerJson: String)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val readerSchema =
      new Schema.Parser().parse(readerJson)
    @transient private lazy val readers =
      scala.collection.mutable.HashMap.empty[Int, GenericDatumReader[GenericRecord]]

    private def readerFor(id: Int): GenericDatumReader[GenericRecord] =
      readers.getOrElseUpdate(id, {
        val writer = writers.getOrElse(id, throw
          new IllegalStateException(s"registry has no schema for wire id $id"))
        new GenericDatumReader[GenericRecord](
          new Schema.Parser().parse(writer), readerSchema)
      })

    override def dataType: DataType = sparkType(readerSchema)
    override def nullable: Boolean = true
    override def prettyName: String = "avro_decode_by_id"

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      val id = ByteBuffer.wrap(bytes, 1, 4).getInt
      val decoder =
        DecoderFactory.get.binaryDecoder(bytes, 5, bytes.length - 5, null)
      toCatalyst(readerFor(id).read(null, decoder), readerSchema)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : Expression = copy(child = newChild)
  }

  /** Registry-framed decode by writer id onto the reader schema
    * ([[AvroDecodeByIdExpression]]). */
  def fromConfluentAvroById(value: Column, writers: Map[Int, String],
      readerJson: String): Column =
    ColumnBridge.column(AvroDecodeByIdExpression(
      ColumnBridge.expression(value), writers, readerJson))

  /** from_avro over a raw (headerless) Avro binary column. */
  def fromAvro(value: Column, schemaJson: String): Column =
    ColumnBridge.column(AvroDecodeExpression(ColumnBridge.expression(value), schemaJson))

  /** D7: permissive decode — corrupt records become null rows the caller
    * can filter/route (the reference's per-record try/except,
    * reference: main.py:52-55, read_from_kafka.py:41-46). */
  def fromAvroLenient(value: Column, schemaJson: String): Column =
    ColumnBridge.column(AvroDecodeExpression(ColumnBridge.expression(value), schemaJson, lenient = true))

  private[functions] def fromCatalyst(v: Any, s: Schema): Any = v match {
    case null => null
    case _ => s.getType match {
      case Schema.Type.UNION =>
        val branch = s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
        fromCatalyst(v, branch)
      case Schema.Type.RECORD =>
        val row = v.asInstanceOf[InternalRow]
        val rec = new org.apache.avro.generic.GenericData.Record(s)
        s.getFields.asScala.zipWithIndex.foreach { case (f, i) =>
          val value =
            if (row.isNullAt(i)) null
            else fromCatalyst(row.get(i, fieldType(f.schema())._1), f.schema())
          rec.put(i, value)
        }
        rec
      case Schema.Type.STRING | Schema.Type.ENUM => v.toString
      case Schema.Type.BYTES => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case Schema.Type.ARRAY =>
        val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val out = new java.util.ArrayList[Any](arr.numElements())
        (0 until arr.numElements()).foreach { i =>
          out.add(fromCatalyst(arr.get(i, sparkType(s.getElementType)),
            s.getElementType))
        }
        out
      case Schema.Type.MAP =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val vt = sparkType(s.getValueType)
        val out = new java.util.HashMap[String, Any](m.numElements())
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).foreach { i =>
          out.put(ks.getUTF8String(i).toString,
            if (vs.isNullAt(i)) null
            else fromCatalyst(vs.get(i, vt), s.getValueType))
        }
        out
      case Schema.Type.FIXED =>
        val bytes = v.asInstanceOf[Array[Byte]]
        require(bytes.length == s.getFixedSize,
          s"fixed(${s.getFixedSize}) field got ${bytes.length} bytes")
        new org.apache.avro.generic.GenericData.Fixed(s, bytes)
      case Schema.Type.INT | Schema.Type.LONG | Schema.Type.FLOAT |
           Schema.Type.DOUBLE | Schema.Type.BOOLEAN => v
      case t => throw new IllegalArgumentException(
        s"avro encode: unsupported type $t")
    }
  }

  /** Inverse of [[AvroDecodeExpression]]: struct column → headerless
    * Avro binary (the publish path — what the reference's Debezium side
    * does upstream, now available engine-side for writing change streams
    * back to Kafka). Struct fields must align positionally with the
    * schema. Bespoke, not an [[ObjectCall]]: it holds a stateful datum
    * writer per instance. */
  case class AvroEncodeExpression(child: Expression, schemaJson: String)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val avroSchema =
      new Schema.Parser().parse(schemaJson)
    @transient private lazy val writer =
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](avroSchema)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def prettyName: String = "avro_encode"

    override def nullSafeEval(input: Any): Any = {
      val rec = fromCatalyst(input, avroSchema).asInstanceOf[GenericRecord]
      val out = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get.binaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    override protected def withNewChildInternal(newChild: Expression)
        : Expression = copy(child = newChild)
  }

  /** to_avro over a struct column. */
  def toAvro(value: Column, schemaJson: String): Column =
    ColumnBridge.column(
      AvroEncodeExpression(ColumnBridge.expression(value), schemaJson))

  /** Confluent framing: 0x00 magic + big-endian schema id + body. */
  def toConfluentAvro(value: Column, schemaJson: String, schemaId: Int): Column = {
    val header = ByteBuffer.allocate(5).put(0.toByte).putInt(schemaId).array()
    concat(lit(header), toAvro(value, schemaJson))
  }

  /** Strip the 5-byte Confluent wire-format header (D1). */
  def stripConfluentHeader(value: Column): Column =
    value.substr(lit(6), length(value) - 5)

  /** Schema-registry id from the wire header (big-endian bytes 2–5). */
  def confluentSchemaId(value: Column): Column =
    conv(hex(value.substr(lit(2), lit(4))), 16, 10).cast("int")

  /** Registry-framed decode = strip header + decode (the main.py path). */
  def fromConfluentAvro(value: Column, schemaJson: String): Column =
    fromAvro(stripConfluentHeader(value), schemaJson)

  /** D3: the replay consumer's hex key decode — the key bytes are a hex
    * string; unhex it back to the original UTF-8 text
    * (reference: main1.py:13 unhexlify(key).decode()). */
  def hexKeyToString(key: Column): Column =
    decode(unhex(key.cast("string")), "UTF-8")
}
