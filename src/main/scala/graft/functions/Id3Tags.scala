package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Frame-level analytics over ID3v2.3 audio-metadata containers — the
  * music/podcast-lake slice of the multimodal story. The ID3 grammar
  * (10-byte header with a 28-bit SYNCSAFE size — 7 bits per byte, the
  * format's quirk — then frames of 4-char id, 4-byte big-endian size,
  * 2 flag bytes, payload, then zero padding) is fully walkable without
  * touching any audio: title/artist/track inventory over a 100 TB
  * audio lake is one codec-free map-side scan.
  *
  * [[buildId3]] writes a structurally valid tag per seed: TIT2/TPE1
  * text frames with seed-derived lengths, a TRCK frame carrying the
  * seed-derived track number as ASCII digits, seed-many COMM frames,
  * seed-derived zero padding, and a correct syncsafe total size.
  * [[id3Walk]] re-parses and reports one of: frame count, total frame
  * payload bytes, TIT2 text length, the parsed TRCK number, or the
  * declared (syncsafe-decoded) tag size — and validates structure end
  * to end (frames + padding must tile the declared size; padding must
  * be all zero).
  *
  * Generating formulas (restated by the oracle): nComm = seed%3 →
  * frames = 3+nComm; title = seed%23+1 bytes; artist = seed%17+1;
  * track = seed%99+1 (ASCII digits); COMM i = (seed+5i)%29+5 bytes;
  * padding = seed%33.
  */
object Id3Tags {

  /** A structurally valid ID3v2.3 tag with seed-derived inventory. */
  def buildId3(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = buf += (v & 0xFF).toByte
    def u32(v: Int): Unit = { u8(v >> 24); u8(v >> 16); u8(v >> 8); u8(v) }
    def frame(id: String, payload: Array[Byte]): Unit = {
      buf ++= id.getBytes("US-ASCII")
      u32(payload.length)
      u8(0); u8(0) // flags
      buf ++= payload
    }
    def textPayload(n: Int, off: Long): Array[Byte] =
      0.toByte +: Array.tabulate(n)(j => ('a' + (off + j) % 26).toByte)
    // header placeholder; size patched after frames
    buf ++= "ID3".getBytes("US-ASCII")
    u8(3); u8(0) // v2.3.0
    u8(0)        // flags
    u32(0)       // syncsafe size placeholder
    frame("TIT2", textPayload((seed % 23 + 1).toInt, seed))
    frame("TPE1", textPayload((seed % 17 + 1).toInt, seed + 7))
    frame("TRCK",
      0.toByte +: (seed % 99 + 1).toString.getBytes("US-ASCII"))
    val nComm = (seed % 3).toInt
    var i = 0
    while (i < nComm) {
      val n = ((seed + 5 * i) % 29 + 5).toInt
      frame("COMM", Array.tabulate(n)(j => ((seed + i + j) % 256).toByte))
      i += 1
    }
    val nPad = (seed % 33).toInt
    i = 0
    while (i < nPad) { u8(0); i += 1 }
    val out = buf.toArray
    // patch the syncsafe size (payload after the 10-byte header)
    val size = out.length - 10
    out(6) = ((size >> 21) & 0x7F).toByte
    out(7) = ((size >> 14) & 0x7F).toByte
    out(8) = ((size >> 7) & 0x7F).toByte
    out(9) = (size & 0x7F).toByte
    out
  }

  /** Frame-grammar walk; mode 0 = frame count, 1 = total frame payload
    * bytes, 2 = TIT2 text length (payload minus encoding byte),
    * 3 = TRCK number parsed from its digits, 4 = declared syncsafe tag
    * size. Returns -1 on any malformed structure (bad magic, frame
    * overrunning the declared size, nonzero padding, digit-less
    * TRCK). */
  def id3Walk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 10) return -1L
    if (b(0) != 'I' || b(1) != 'D' || b(2) != '3') return -1L
    val size = ((b(6) & 0x7FL) << 21) | ((b(7) & 0x7FL) << 14) |
      ((b(8) & 0x7FL) << 7) | (b(9) & 0x7FL)
    if (10 + size > b.length) return -1L
    val end = 10 + size.toInt
    var p = 10
    var frames = 0L; var payload = 0L
    var titleLen = -1L; var track = -1L
    while (p + 10 <= end &&
      !(b(p) == 0 && b(p + 1) == 0 && b(p + 2) == 0 && b(p + 3) == 0)) {
      val len = ((b(p + 4) & 0xFF) << 24) | ((b(p + 5) & 0xFF) << 16) |
        ((b(p + 6) & 0xFF) << 8) | (b(p + 7) & 0xFF)
      if (len < 0 || p + 10 + len > end) return -1L
      frames += 1
      payload += len
      val isTit2 = b(p) == 'T' && b(p + 1) == 'I' && b(p + 2) == 'T' &&
        b(p + 3) == '2'
      val isTrck = b(p) == 'T' && b(p + 1) == 'R' && b(p + 2) == 'C' &&
        b(p + 3) == 'K'
      if (isTit2) titleLen = len - 1L
      if (isTrck) {
        var q = p + 11 // skip encoding byte
        var v = 0L; var any = false
        while (q < p + 10 + len) {
          val c = b(q) & 0xFF
          if (c < '0' || c > '9') return -1L
          v = v * 10 + (c - '0'); any = true; q += 1
        }
        if (!any) return -1L
        track = v
      }
      p += 10 + len
    }
    // remainder must be all-zero padding
    while (p < end) { if (b(p) != 0) return -1L; p += 1 }
    if (mode == 0) frames
    else if (mode == 1) payload
    else if (mode == 2) titleLen
    else if (mode == 3) track
    else size
  }

  def build(seed: Column): Column =
    ObjectCall.column("id3_build", this, "buildId3", BinaryType, Seq(seed))
  def frameCount(media: Column): Column = stat(media, 0)
  def payloadBytes(media: Column): Column = stat(media, 1)
  def titleLength(media: Column): Column = stat(media, 2)
  def trackNumber(media: Column): Column = stat(media, 3)
  def tagSize(media: Column): Column = stat(media, 4)

  /** [[id3Walk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("id3_stat", this, "id3Walk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
