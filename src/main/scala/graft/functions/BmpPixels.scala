package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** REAL codec-free pixel analytics: BMP is the one mainstream raster
  * format whose pixel array needs no decompression, so channel statistics
  * over it are pure byte arithmetic — the honest non-stub slice of the
  * multimodal decode story (PNG/JPEG stay stubbed: their pixel data is
  * DEFLATE/DCT-coded and the container has no codecs).
  *
  * [[buildBmp]] writes a fully valid 24-bpp bottom-up BMP
  * (BITMAPFILEHEADER + BITMAPINFOHEADER + 4-byte-padded rows; padding is
  * 0xAA, NOT zero, so a parser that mis-strides changes the sums).
  * [[bmpChannelSum]] / [[bmpWeightedSum]] walk the pixel array honoring
  * the header's data offset, stride, and bottom-up row order; the
  * weighted variant multiplies each value by (x+1)·(y+1), which makes the
  * result sensitive to pixel POSITION — a row-order or stride bug cannot
  * cancel. Both codegen to static calls and stay inside whole-stage
  * codegen: scanning pixels across a 100 TB lake is one pass, no shuffle.
  */
object BmpPixels {

  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def putLe32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
    b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
  }
  private def putLe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
  }

  /** Deterministic per-position channel values (file byte order B,G,R). */
  private def blue(seed: Long, x: Int, y: Int): Int =
    ((seed + 7L * x + 13L * y) % 256).toInt
  private def green(seed: Long, x: Int, y: Int): Int =
    ((3L * seed + x) % 256).toInt
  private def red(seed: Long, x: Int, y: Int): Int =
    ((x.toLong * y + seed) % 256).toInt

  /** A valid 24-bpp bottom-up BMP with seed-derived pixels. */
  def buildBmp(seed: Long, w: Int, h: Int): Array[Byte] = {
    val stride = ((3 * w + 3) / 4) * 4
    val imgSize = stride * h
    val b = new Array[Byte](54 + imgSize)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, b.length); putLe32(b, 10, 54)
    putLe32(b, 14, 40); putLe32(b, 18, w); putLe32(b, 22, h)
    putLe16(b, 26, 1); putLe16(b, 28, 24); putLe32(b, 34, imgSize)
    var r = 0
    while (r < h) {
      val y = h - 1 - r // bottom-up: first file row is the bottom image row
      val base = 54 + r * stride
      var x = 0
      while (x < w) {
        b(base + 3 * x) = blue(seed, x, y).toByte
        b(base + 3 * x + 1) = green(seed, x, y).toByte
        b(base + 3 * x + 2) = red(seed, x, y).toByte
        x += 1
      }
      var p = 3 * w
      while (p < stride) { b(base + p) = 0xAA.toByte; p += 1 }
      r += 1
    }
    b
  }

  /** NEAREST-NEIGHBOR resampled rendition builder: a fully valid 24-bpp
    * bottom-up BMP of geometry (w·num/den, h·num/den) whose pixel (x, y)
    * carries the base channel formulas evaluated at the NN source
    * coordinate (⌊x·w/outW⌋, ⌊y·h/outH⌋) — the same all-integer index
    * math as [[bmpResampleSum]], so every rendition is exactly
    * reproducible by formula on the oracle side. num=2,den=1 is the 2×
    * upscale (each source pixel becomes a 2×2 block); num=1,den=2 the ½
    * downscale (3 of 4 source pixels dropped); num=den=1 degenerates to
    * [[buildBmp]] byte-for-byte. The rescale-dup case is THE canonical
    * image near-dup an LLM pipeline must catch. */
  def buildBmpResampled(seed: Long, w: Int, h: Int, num: Int, den: Int): Array[Byte] = {
    val ow = math.max(1, w * num / den)
    val oh = math.max(1, h * num / den)
    val stride = ((3 * ow + 3) / 4) * 4
    val b = new Array[Byte](54 + stride * oh)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, b.length); putLe32(b, 10, 54)
    putLe32(b, 14, 40); putLe32(b, 18, ow); putLe32(b, 22, oh)
    putLe16(b, 26, 1); putLe16(b, 28, 24); putLe32(b, 34, stride * oh)
    var r = 0
    while (r < oh) {
      val y = oh - 1 - r // bottom-up file order
      val sy = (y.toLong * h / oh).toInt
      val base = 54 + r * stride
      var x = 0
      while (x < ow) {
        val sx = (x.toLong * w / ow).toInt
        b(base + 3 * x) = blue(seed, sx, sy).toByte
        b(base + 3 * x + 1) = green(seed, sx, sy).toByte
        b(base + 3 * x + 2) = red(seed, sx, sy).toByte
        x += 1
      }
      var p = 3 * ow
      while (p < stride) { b(base + p) = 0xAA.toByte; p += 1 }
      r += 1
    }
    b
  }

  private[graft] def headerOk(b: Array[Byte]): Boolean =
    b != null && b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
      le16(b, 28) == 24 && le32(b, 22) > 0 && le32(b, 18) > 0

  /** Σ channel value over all pixels; channel 0=B,1=G,2=R; -1 invalid. */
  def bmpChannelSum(b: Array[Byte], channel: Int): Long = {
    if (!headerOk(b)) return -1L
    val off = le32(b, 10); val w = le32(b, 18); val h = le32(b, 22)
    // Long stride: 3*w overflows Int for a crafted width field; the
    // division form is immune to strideL*h overflowing Long too (w AND
    // h near Int.MaxValue) — headerOk ensures h > 0, and for h > 0,
    // (len-off)/h ≥ strideL ⟺ len ≥ off + strideL*h
    val strideL = ((3L * w + 3) / 4) * 4
    if (off < 54 || off > b.length || (b.length - off) / h < strideL)
      return -1L
    val stride = strideL.toInt
    var s = 0L; var r = 0
    while (r < h) {
      val base = off + r * stride
      var x = 0
      while (x < w) { s += (b(base + 3 * x + channel) & 0xFF); x += 1 }
      r += 1
    }
    s
  }

  /** Σ (x+1)·(y+1)·value — position-sensitive checksum; -1 invalid. */
  def bmpWeightedSum(b: Array[Byte], channel: Int): Long = {
    if (!headerOk(b)) return -1L
    val off = le32(b, 10); val w = le32(b, 18); val h = le32(b, 22)
    val strideL = ((3L * w + 3) / 4) * 4
    if (off < 54 || off > b.length || (b.length - off) / h < strideL)
      return -1L
    val stride = strideL.toInt
    var s = 0L; var r = 0
    while (r < h) {
      val y = h - 1 - r
      val base = off + r * stride
      var x = 0
      while (x < w) {
        s += (x + 1).toLong * (y + 1) * (b(base + 3 * x + channel) & 0xFF)
        x += 1
      }
      r += 1
    }
    s
  }

  /** Σ channel value over a NEAREST-NEIGHBOR resample to rw×rh (plain
    * or (x'+1)·(y'+1)-weighted): output pixel (x', y') reads source
    * pixel (⌊x'·w/rw⌋, ⌊y'·h/rh⌋) — all-integer index math, so the
    * "resize" is exactly reproducible by formula (no filtering kernel,
    * no float). Touches only the rw·rh sampled source bytes; the
    * position-weighted variant pins output orientation, so a mapping
    * or row-order slip cannot cancel. -1 invalid. */
  def bmpResampleSum(b: Array[Byte], rw: Int, rh: Int, channel: Int,
      weighted: Boolean): Long = {
    if (!headerOk(b) || rw <= 0 || rh <= 0) return -1L
    val off = le32(b, 10); val w = le32(b, 18); val h = le32(b, 22)
    val strideL = ((3L * w + 3) / 4) * 4
    if (off < 54 || off > b.length || (b.length - off) / h < strideL)
      return -1L
    val stride = strideL.toInt
    var s = 0L; var yy = 0
    while (yy < rh) {
      val sy = (yy.toLong * h / rh).toInt // top-down image row
      val base = off + (h - 1 - sy) * stride // bottom-up file order
      var xx = 0
      while (xx < rw) {
        val sx = (xx.toLong * w / rw).toInt
        val v = b(base + 3 * sx + channel) & 0xFF
        s += (if (weighted) (xx + 1).toLong * (yy + 1) * v else v.toLong)
        xx += 1
      }
      yy += 1
    }
    s
  }

  /** 64-bit average-hash (aHash) perceptual signature: NEAREST-NEIGHBOR
    * resample to rw×rh (same all-integer index math as
    * [[bmpResampleSum]]), then one bit per sample — set iff the sample
    * exceeds the grid mean, compared in exact integers (v·n > Σv). Bit
    * index yy·rw+xx, LSB-first. aHash is THE standard cheap image
    * near-dup signature (brightness-shift tolerant, byte-local); at
    * 100 TB it is one pass over rw·rh sampled bytes per image, no
    * shuffle — banding the 64 bits then drives an LSH pair join exactly
    * like SimHash's.
    *
    * -1 (all 64 bits set) is PROVABLY unreachable for rw·rh ≤ 64: if
    * every sample had v·n > Σv, summing the n inequalities gives
    * n·Σv > n·Σv — so -1 is a safe invalid-input sentinel, the same
    * contract the sum walkers use. */
  def bmpAHash(b: Array[Byte], rw: Int, rh: Int, channel: Int): Long = {
    if (!headerOk(b) || rw <= 0 || rh <= 0 || rw * rh > 64) return -1L
    val off = le32(b, 10); val w = le32(b, 18); val h = le32(b, 22)
    val strideL = ((3L * w + 3) / 4) * 4
    if (off < 54 || off > b.length || (b.length - off) / h < strideL)
      return -1L
    val stride = strideL.toInt
    val n = rw * rh
    val vs = new Array[Int](n)
    var sum = 0L; var yy = 0
    while (yy < rh) {
      val sy = (yy.toLong * h / rh).toInt
      val base = off + (h - 1 - sy) * stride
      var xx = 0
      while (xx < rw) {
        val sx = (xx.toLong * w / rw).toInt
        val v = b(base + 3 * sx + channel) & 0xFF
        vs(yy * rw + xx) = v; sum += v
        xx += 1
      }
      yy += 1
    }
    var hash = 0L; var i = 0
    while (i < n) {
      if (vs(i).toLong * n > sum) hash |= 1L << i
      i += 1
    }
    hash
  }

  def build(seed: Column, w: Column, h: Column): Column =
    ObjectCall.column("bmp_build", this, "buildBmp", BinaryType, Seq(seed, w, h))
  def channelSum(media: Column, channel: Int): Column =
    walk("bmpChannelSum", media, channel)
  def weightedSum(media: Column, channel: Int): Column =
    walk("bmpWeightedSum", media, channel)
  def resampleSum(media: Column, rw: Int, rh: Int, channel: Int,
      weighted: Boolean = false): Column =
    ObjectCall.column("bmp_resample_sum", this, "bmpResampleSum", LongType,
      Seq(media), Seq(rw, rh, channel, weighted), nullOn = Some(-1L))
  def buildResampled(seed: Column, w: Column, h: Column,
      num: Int, den: Int): Column = {
    require(num > 0 && den > 0, "resample ratio must be positive")
    ObjectCall.column("bmp_build_resampled", this, "buildBmpResampled",
      BinaryType, Seq(seed, w, h), Seq(num, den))
  }
  def aHash(media: Column, rw: Int, rh: Int, channel: Int): Column = {
    require(rw > 0 && rh > 0 && rw * rh <= 64, "aHash grid must fit 64 bits")
    ObjectCall.column("bmp_ahash", this, "bmpAHash", LongType, Seq(media),
      Seq(rw, rh, channel), nullOn = Some(-1L))
  }

  /** a pixel-walk sum; its -1 sentinel is NULL */
  private def walk(method: String, media: Column, channel: Int): Column =
    ObjectCall.column("bmp_sum", this, method, LongType, Seq(media),
      Seq(channel), nullOn = Some(-1L))
}
