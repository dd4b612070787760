package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** STREAMINFO analytics over FLAC streams — the bit-packed slice of
  * the multimodal story. FLAC's first metadata block packs its audio
  * parameters at SUB-BYTE offsets: sample rate is 20 bits, channel
  * count 3 bits, bit depth 5 bits, total samples 36 bits, all sharing
  * one 64-bit group — so correct extraction is bit arithmetic, not
  * byte indexing, a class no other walker in this package exercises.
  *
  * [[buildFlac]] writes a structurally valid stream per seed: the fLaC
  * magic, a STREAMINFO block (always first, per spec) with
  * seed-derived parameters, and a last-flagged PADDING block of
  * seed-derived length. [[flacWalk]] validates the magic, that the
  * first block is STREAMINFO with the mandatory 34-byte length, that
  * the block chain tiles the stream and ends on the last-flag, then
  * unpacks the bit fields.
  *
  * Generating formulas (restated by the oracle, independent of builder
  * AND walker): sampleRate = seed%96000+8000; channels = seed%8+1;
  * bitsPerSample = seed%25+8; totalSamples = seed%999999937+1;
  * blocks = 2.
  */
object FlacStreaminfo {

  /** A structurally valid FLAC stream with seed-derived STREAMINFO. */
  def buildFlac(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Long): Unit = buf += (v & 0xFF).toByte
    def u24(v: Long): Unit = { u8(v >> 16); u8(v >> 8); u8(v) }
    buf ++= "fLaC".getBytes("US-ASCII")
    // STREAMINFO: header (not last, type 0), length 34
    u8(0x00); u24(34)
    val minBlock = 4096L; val maxBlock = 4096L
    u8(minBlock >> 8); u8(minBlock); u8(maxBlock >> 8); u8(maxBlock)
    u24(0); u24(0) // min/max frame size (0 = unknown)
    val rate = seed % 96000 + 8000
    val channels = seed % 8 + 1
    val bps = seed % 25 + 8
    val totalSamples = seed % 999999937 + 1
    // 64-bit group: rate(20) | channels-1(3) | bps-1(5) | total(36)
    val packed = (rate << 44) | ((channels - 1) << 41) |
      ((bps - 1) << 36) | totalSamples
    var i = 7
    while (i >= 0) { u8(packed >> (8 * i)); i -= 1 }
    var j = 0
    while (j < 16) { u8((seed + j) % 256); j += 1 } // MD5 (opaque)
    // PADDING: last block, type 1, seed-derived length
    val pad = (seed % 64).toInt
    u8(0x81); u24(pad)
    j = 0
    while (j < pad) { u8(0); j += 1 }
    buf.toArray
  }

  private def be(b: Array[Byte], p: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v = (v << 8) | (b(p + i) & 0xFF); i += 1 }
    v
  }

  /** Block-chain walk + STREAMINFO bit unpack; mode 0 = sample rate,
    * 1 = channels, 2 = bits per sample, 3 = total samples, 4 = block
    * count. Returns -1 on malformed structure: bad magic, first block
    * not STREAMINFO/34, chain overrunning or not tiling the stream, or
    * a missing last-flag terminator. */
  def flacWalk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 42) return -1L
    if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return -1L
    // first block must be STREAMINFO (type 0) of length exactly 34
    if ((b(4) & 0x7F) != 0 || be(b, 5, 3) != 34L) return -1L
    var p = 4
    var blocks = 0L
    var sawLast = false
    while (p + 4 <= b.length && !sawLast) {
      val hdr = b(p) & 0xFF
      val len = be(b, p + 1, 3)
      if (p + 4 + len > b.length) return -1L
      blocks += 1
      sawLast = (hdr & 0x80) != 0
      p += 4 + len.toInt
    }
    if (!sawLast || p != b.length) return -1L
    val packed = be(b, 4 + 4 + 10, 8) // after header + blocksize/framesize
    val rate = packed >>> 44
    val channels = ((packed >>> 41) & 0x7L) + 1
    val bps = ((packed >>> 36) & 0x1FL) + 1
    val total = packed & 0xFFFFFFFFFL
    if (mode == 0) rate
    else if (mode == 1) channels
    else if (mode == 2) bps
    else if (mode == 3) total
    else blocks
  }

  def build(seed: Column): Column =
    ObjectCall.column("flac_build", this, "buildFlac", BinaryType, Seq(seed))
  def sampleRate(media: Column): Column = stat(media, 0)
  def channels(media: Column): Column = stat(media, 1)
  def bitsPerSample(media: Column): Column = stat(media, 2)
  def totalSamples(media: Column): Column = stat(media, 3)
  def blockCount(media: Column): Column = stat(media, 4)

  /** [[flacWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("flac_stat", this, "flacWalk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
