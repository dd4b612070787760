package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{AvroCodec, BmpPixels, DotProduct, JpegSegments, MediaHeaders, Mp4Boxes, ObjectCall, PngChunks, WordShingles}

/** Catalyst integration point: registers graft's native expressions with
  * the SQL function registry so `spark.sql("... dot_product(a, b) ...")`
  * plans them directly (whole-stage-codegen'd, no UDF wrapping).
  *
  * Use at session build time:
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * or on a live session via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach(e.injectFunction)
}

object GraftExtensions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A SQL function that applies a column wrapper to its arguments.
    * `cls` is the expression class the wrapper builds: `DESCRIBE
    * FUNCTION EXTENDED` reports it. */
  private def entry(name: String, cls: Class[_], usage: String)(
      build: Seq[Column] => Column): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, null, name, usage, ""),
      (exprs: Seq[Expression]) =>
        ColumnBridge.expression(build(exprs.map(ColumnBridge.column))))

  private def literal(c: Column): Any = ColumnBridge.expression(c) match {
    case Literal(v, _) => v
    case other => throw new IllegalArgumentException(s"expected a literal, got $other")
  }
  private def intLit(c: Column, what: String): Int = literal(c) match {
    case v: Int => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }
  /** an optional flag argument: set only by a literal `true` */
  private def flag(c: Seq[Column], i: Int): Boolean = c.lift(i).exists { a =>
    ColumnBridge.expression(a) match {
      case Literal(v, _) => v == true
      case _ => false
    }
  }

  val dotProduct: Entry = entry("dot_product", classOf[DotProduct],
    "dot_product(a, b) - double-precision dot product of two float arrays")(
    c => DotProduct(c(0), c(1)))

  val avroDecode: Entry = entry("avro_decode",
    classOf[AvroCodec.AvroDecodeExpression],
    "avro_decode(bin, schemaJson[, lenient]) - decode headerless Avro binary") { c =>
    val schemaJson = literal(c(1)) match {
      case null => throw new IllegalArgumentException(
        "avro_decode schema must be a string literal")
      case v => v.toString
    }
    if (flag(c, 2)) AvroCodec.fromAvroLenient(c(0), schemaJson)
    else AvroCodec.fromAvro(c(0), schemaJson)
  }

  val wordShingles: Entry = entry("word_shingles", classOf[WordShingles],
    "word_shingles(words[, n]) - n-gram (default 3) word shingles of a string array") {
    c => WordShingles(c(0), c.lift(1).map(intLit(_, "word_shingles n")).getOrElse(3))
  }

  val mediaFormat: Entry = entry("media_format", classOf[ObjectCall],
    "media_format(bin) - container sniff from magic bytes (png/gif/bmp/jpeg/wav/webp/unknown)")(
    c => MediaHeaders.format(c(0)))

  val imageWidth: Entry = entry("image_width", classOf[ObjectCall],
    "image_width(bin) - pixel width from the image header, or NULL")(
    c => MediaHeaders.width(c(0)))

  val imageHeight: Entry = entry("image_height", classOf[ObjectCall],
    "image_height(bin) - pixel height from the image header, or NULL")(
    c => MediaHeaders.height(c(0)))

  val bmpBuild: Entry = entry("bmp_build", classOf[ObjectCall],
    "bmp_build(seed, w, h) - valid 24-bpp BMP bytes with seed-derived pixels")(
    c => BmpPixels.build(c(0), c(1), c(2)))

  val bmpChannelSum: Entry = entry("bmp_channel_sum", classOf[ObjectCall],
    "bmp_channel_sum(bin, channel[, weighted]) - pixel-walk channel sum over a 24-bpp BMP (0=B,1=G,2=R), or NULL") { c =>
    val channel = intLit(c(1), "bmp_channel_sum channel")
    if (flag(c, 2)) BmpPixels.weightedSum(c(0), channel)
    else BmpPixels.channelSum(c(0), channel)
  }

  /** Spark ships BloomFilterAggregate/BloomFilterMightContain as
    * INTERNAL expressions (they power injected runtime filters) without
    * public SQL names. Registering them makes the operator-level
    * bloom-prune-then-exact-verify pattern (e.g.
    * `text_decontaminate_bloom`) expressible in one SQL statement:
    * `might_contain((SELECT bloom_filter_agg(xxhash64(x), n, bits)
    * FROM small_side), xxhash64(probe))`. */
  val bloomFilterAgg: Entry = entry("bloom_filter_agg", classOf[BloomFilterAggregate],
    "bloom_filter_agg(xxhash64(col), estNumItems, numBits) - build a bloom filter as binary") {
    c =>
      val e = c.map(ColumnBridge.expression)
      ColumnBridge.column(BloomFilterAggregate(e(0), e(1), e(2), 0, 0).toAggregateExpression())
  }

  val mightContain: Entry = entry("might_contain", classOf[BloomFilterMightContain],
    "might_contain(bloomBinary, xxhash64(value)) - bloom membership probe (no false negatives)") {
    c => ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(c(0)), ColumnBridge.expression(c(1))))
  }

  val pngBuild: Entry = entry("png_build", classOf[ObjectCall],
    "png_build(seed) - structurally valid multi-chunk PNG bytes with real per-chunk CRC-32")(
    c => PngChunks.build(c(0)))

  val pngChunkCount: Entry = entry("png_chunk_count", classOf[ObjectCall],
    "png_chunk_count(bin) - chunk count through IEND, or NULL on malformed structure")(
    c => PngChunks.chunkCount(c(0)))

  val pngIdatBytes: Entry = entry("png_idat_bytes", classOf[ObjectCall],
    "png_idat_bytes(bin) - total IDAT payload bytes without inflating, or NULL")(
    c => PngChunks.idatBytes(c(0)))

  val pngCrcValid: Entry = entry("png_crc_valid_chunks", classOf[ObjectCall],
    "png_crc_valid_chunks(bin) - count of chunks whose stored CRC-32 matches recomputation, or NULL")(
    c => PngChunks.crcValidCount(c(0)))

  val jpegBuild: Entry = entry("jpeg_build", classOf[ObjectCall],
    "jpeg_build(seed) - structurally valid JFIF marker stream (APP0/COM/DQT/SOF0/DHT/SOS/EOI)")(
    c => JpegSegments.build(c(0)))

  val jpegWidth: Entry = entry("jpeg_width", classOf[ObjectCall],
    "jpeg_width(bin) - image width from the SOF0 segment, or NULL on malformed structure")(
    c => JpegSegments.width(c(0)))

  val jpegHeight: Entry = entry("jpeg_height", classOf[ObjectCall],
    "jpeg_height(bin) - image height from the SOF0 segment, or NULL")(
    c => JpegSegments.height(c(0)))

  val mp4BoxCount: Entry = entry("mp4_box_count", classOf[ObjectCall],
    "mp4_box_count(bin) - top-level ISO-BMFF box count (sizes must tile the file), or NULL")(
    c => Mp4Boxes.boxCount(c(0)))

  val mp4MdatBytes: Entry = entry("mp4_mdat_bytes", classOf[ObjectCall],
    "mp4_mdat_bytes(bin) - total mdat payload bytes, or NULL")(
    c => Mp4Boxes.mdatBytes(c(0)))

  val all: Seq[Entry] =
    Seq(dotProduct, avroDecode, wordShingles, mediaFormat, imageWidth,
      imageHeight, bmpBuild, bmpChannelSum, bloomFilterAgg, mightContain,
      pngBuild, pngChunkCount, pngIdatBytes, pngCrcValid,
      jpegBuild, jpegWidth, jpegHeight, mp4BoxCount, mp4MdatBytes)

  /** Register on an already-built session (e.g. the driver's), with
    * the same [[ExpressionInfo]] the extension injects. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
