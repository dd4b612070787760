package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Marker-segment analytics over JPEG/JFIF containers — the compressed
  * -image slice of the multimodal story. JPEG's segment grammar (0xFF
  * marker byte, marker id, 2-byte big-endian length including itself,
  * payload; entropy-coded scan data after SOS, terminated by EOI) is
  * fully walkable WITHOUT a Huffman/DCT decoder: image dimensions live
  * in SOF0, quantization tables in DQT, and the scan length falls out
  * of finding EOI. Dimension/quality inventory over a 100 TB image
  * lake is one codec-free map-side scan — no shuffle, no decode.
  *
  * [[buildJpeg]] writes a structurally valid JFIF stream per seed: SOI,
  * APP0/JFIF, seed-many COM segments, one DQT (64 seed-derived
  * entries), SOF0 carrying seed-derived dimensions, one minimal DHT,
  * SOS followed by seed-many entropy bytes drawn from 0..254 (never
  * 0xFF, so the scan needs no stuffing logic), EOI. [[jpegWalk]]
  * re-parses the stream and reports one of: segment count, width,
  * height, entropy-byte count, or the DQT entry sum.
  *
  * Generating formulas (restated by the oracle, independent of builder
  * AND walker): nCom = seed%3+1 → segments = 5+nCom; width =
  * seed%997+1; height = seed%499+1; entropy bytes = seed%251+1; DQT
  * entries (seed+j)%256 for j<64.
  */
object JpegSegments {

  /** A structurally valid JFIF stream with seed-derived inventory. */
  def buildJpeg(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = buf += (v & 0xFF).toByte
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    marker(0xD8) // SOI
    // APP0 / JFIF
    marker(0xE0); u16(16)
    buf ++= "JFIF".getBytes("US-ASCII"); u8(0)
    u8(1); u8(1) // version 1.1
    u8(0); u16(1); u16(1) // units, densities
    u8(0); u8(0) // no thumbnail
    // COM segments
    val nCom = (seed % 3 + 1).toInt
    var i = 0
    while (i < nCom) {
      val n = ((seed + 11 * i) % 17 + 1).toInt
      marker(0xFE); u16(2 + n)
      var j = 0
      while (j < n) { u8(((seed + i + j) % 256).toInt); j += 1 }
      i += 1
    }
    // DQT: one 8-bit table
    marker(0xDB); u16(2 + 65)
    u8(0) // precision 0, table id 0
    var j = 0
    while (j < 64) { u8(((seed + j) % 256).toInt); j += 1 }
    // SOF0: 3 components
    val w = (seed % 997 + 1).toInt
    val h = (seed % 499 + 1).toInt
    marker(0xC0); u16(2 + 15)
    u8(8); u16(h); u16(w); u8(3)
    var c = 0
    while (c < 3) { u8(c + 1); u8(0x11); u8(0); c += 1 }
    // DHT: one table, single symbol of length 1
    marker(0xC4); u16(2 + 1 + 16 + 1)
    u8(0)
    u8(1); j = 1
    while (j < 16) { u8(0); j += 1 }
    u8(0)
    // SOS + entropy-coded bytes (0..254 — never a marker prefix)
    marker(0xDA); u16(2 + 1 + 6 + 3)
    u8(3); c = 0
    while (c < 3) { u8(c + 1); u8(0); c += 1 }
    u8(0); u8(63); u8(0)
    val nE = (seed % 251 + 1).toInt
    j = 0
    while (j < nE) { u8(((seed + j) % 255).toInt); j += 1 }
    marker(0xD9) // EOI
    buf.toArray
  }

  /** Segment-grammar walk; mode 0 = segment count (APP0 through SOS),
    * 1 = SOF0 width, 2 = SOF0 height, 3 = entropy-coded byte count,
    * 4 = Σ DQT entries. Returns -1 on any malformed structure (bad
    * SOI, marker desync, truncated segment, missing EOI). */
  def jpegWalk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 4) return -1L
    if (b(0) != 0xFF.toByte || b(1) != 0xD8.toByte) return -1L
    var p = 2
    var segs = 0L; var width = -1L; var height = -1L; var dqtSum = 0L
    while (p + 4 <= b.length) {
      if (b(p) != 0xFF.toByte) return -1L
      val m = b(p + 1) & 0xFF
      if (m == 0xD9) return -1L // EOI before SOS: no scan data
      val len = ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
      if (len < 2 || p + 2 + len > b.length) return -1L
      segs += 1
      if (m == 0xC0) {
        if (len < 7) return -1L
        height = ((b(p + 5) & 0xFF) << 8) | (b(p + 6) & 0xFF)
        width = ((b(p + 7) & 0xFF) << 8) | (b(p + 8) & 0xFF)
      } else if (m == 0xDB) {
        if (len != 67) return -1L
        var j = 0
        while (j < 64) { dqtSum += b(p + 5 + j) & 0xFF; j += 1 }
      } else if (m == 0xDA) {
        // entropy scan: count bytes until EOI (builder never emits 0xFF
        // inside the scan, so no stuffing to skip)
        var q = p + 2 + len
        var e = 0L
        while (q + 2 <= b.length &&
          !(b(q) == 0xFF.toByte && b(q + 1) == 0xD9.toByte)) {
          e += 1; q += 1
        }
        if (q + 2 > b.length) return -1L // no EOI
        return if (mode == 0) segs
        else if (mode == 1) width
        else if (mode == 2) height
        else if (mode == 3) e
        else dqtSum
      }
      p += 2 + len
    }
    -1L // ran off the end without SOS
  }

  def build(seed: Column): Column =
    ObjectCall.column("jpeg_build", this, "buildJpeg", BinaryType, Seq(seed))
  def segmentCount(media: Column): Column = stat(media, 0)
  def width(media: Column): Column = stat(media, 1)
  def height(media: Column): Column = stat(media, 2)
  def entropyBytes(media: Column): Column = stat(media, 3)
  def dqtSum(media: Column): Column = stat(media, 4)

  /** [[jpegWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("jpeg_stat", this, "jpegWalk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
