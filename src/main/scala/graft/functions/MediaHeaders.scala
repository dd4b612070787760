package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codec-FREE media header parsing over opaque `binary` columns — the
  * real (non-stub) part of the multimodal layer: container/format
  * detection and geometry extraction need only byte arithmetic on the
  * first bytes of the payload, no image/audio libraries.
  *
  * Covers the containers a training-data lake actually meets: PNG
  * (IHDR geometry), GIF87a/89a (logical screen), BMP (BITMAPINFOHEADER),
  * JPEG (SOF marker walk), RIFF (WAV sample rate / WebP). Everything is
  * a static byte-inspection method called through [[ObjectCall]], so it
  * stays inside whole-stage codegen:
  * sniffing a 100 TB lake is one scan with no decode, no shuffle, and
  * column-pruned to the binary column alone.
  */
object MediaHeaders {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  private def isPng(b: Array[Byte]) = b.length >= 24 &&
    u8(b, 0) == 0x89 && u8(b, 1) == 0x50 && u8(b, 2) == 0x4E && u8(b, 3) == 0x47
  private def isGif(b: Array[Byte]) = b.length >= 10 &&
    b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'
  private def isBmp(b: Array[Byte]) = b.length >= 26 && b(0) == 'B' && b(1) == 'M'
  private def isJpeg(b: Array[Byte]) = b.length >= 4 &&
    u8(b, 0) == 0xFF && u8(b, 1) == 0xD8 && u8(b, 2) == 0xFF
  private def isRiff(b: Array[Byte]) = b.length >= 12 &&
    b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F'
  private def isWav(b: Array[Byte]) = isRiff(b) &&
    b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'
  private def isWebp(b: Array[Byte]) = isRiff(b) &&
    b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P'

  /** Container sniff from magic bytes; "unknown" when unrecognized. */
  def sniffFormat(b: Array[Byte]): UTF8String = UTF8String.fromString(
    if (b == null) "unknown"
    else if (isPng(b)) "png"
    else if (isGif(b)) "gif"
    else if (isBmp(b)) "bmp"
    else if (isJpeg(b)) "jpeg"
    else if (isWav(b)) "wav"
    else if (isWebp(b)) "webp"
    else "unknown")

  /** JPEG SOF marker walk → (height << 32) | width, or -1. */
  private def jpegDims(b: Array[Byte]): Long = {
    var i = 2
    while (i + 9 < b.length && u8(b, i) == 0xFF) {
      val marker = u8(b, i + 1)
      if (marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
        val h = (u8(b, i + 5) << 8) | u8(b, i + 6)
        val w = (u8(b, i + 7) << 8) | u8(b, i + 8)
        return (h.toLong << 32) | w.toLong
      }
      val segLen = (u8(b, i + 2) << 8) | u8(b, i + 3)
      if (segLen < 2) return -1L
      i += 2 + segLen
    }
    -1L
  }

  /** Pixel width, or -1 when not an image / too short. */
  def imageWidth(b: Array[Byte]): Int =
    if (b == null) -1
    else if (isPng(b)) be32(b, 16)
    else if (isGif(b)) le16(b, 6)
    else if (isBmp(b)) le32(b, 18)
    else if (isJpeg(b)) { val d = jpegDims(b); if (d < 0) -1 else (d & 0xFFFFFFFFL).toInt }
    else -1

  /** Pixel height, or -1. */
  def imageHeight(b: Array[Byte]): Int =
    if (b == null) -1
    else if (isPng(b)) be32(b, 20)
    else if (isGif(b)) le16(b, 8)
    else if (isBmp(b)) le32(b, 22)
    else if (isJpeg(b)) { val d = jpegDims(b); if (d < 0) -1 else (d >>> 32).toInt }
    else -1

  /** WAV sample rate (canonical RIFF/fmt layout), or -1. */
  def wavSampleRate(b: Array[Byte]): Int =
    if (b != null && isWav(b) && b.length >= 28 &&
      b(12) == 'f' && b(13) == 'm' && b(14) == 't') le32(b, 24)
    else -1

  def format(media: Column): Column =
    ObjectCall.column("media_format", this, "sniffFormat", StringType, Seq(media))
  def width(media: Column): Column = header("image_width", "imageWidth", media)
  def height(media: Column): Column = header("image_height", "imageHeight", media)
  def wavRate(media: Column): Column =
    header("wav_sample_rate", "wavSampleRate", media)

  /** a header field; the helpers' -1 sentinel is NULL */
  private def header(name: String, method: String, media: Column): Column =
    ObjectCall.column(name, this, method, IntegerType, Seq(media),
      nullOn = Some(-1L))
}
