package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Box-level analytics over ISO-BMFF (MP4/MOV) containers — the video
  * slice of the multimodal story. The ISO base-media grammar (4-byte
  * big-endian size INCLUDING the 8-byte header, 4-byte type, payload;
  * container boxes nest the same grammar) means a video lake's
  * structural inventory — box census, media payload bytes, timescale/
  * duration out of moov→mvhd — is walkable with zero codec work: at
  * 100 TB that is one map-side scan, no shuffle, no demux.
  *
  * [[buildMp4]] writes a structurally valid stream per seed: ftyp,
  * moov containing one v0 mvhd (seed-derived timescale/duration), a
  * free box of seed-derived size, and seed-many mdat boxes with
  * seed-derived payload sizes. [[mp4Walk]] re-walks top level plus one
  * level into moov, and cross-checks every size field against the
  * enclosing bound (sizes must tile the file exactly — a truncated or
  * overlapping box returns the -1 sentinel).
  *
  * Generating formulas (restated by the oracle, independent of builder
  * AND walker): nMdat = seed%3+1 → top-level boxes = 3+nMdat; mdat
  * payload i is (seed+13i)%4093+1 bytes; timescale = seed%9973+1;
  * duration = seed%86400+1.
  */
object Mp4Boxes {

  /** A structurally valid ISO-BMFF stream with seed-derived inventory. */
  def buildMp4(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = buf += (v & 0xFF).toByte
    def u32(v: Long): Unit = { u8((v >> 24).toInt); u8((v >> 16).toInt); u8((v >> 8).toInt); u8(v.toInt) }
    def tpe(t: String): Unit = buf ++= t.getBytes("US-ASCII")
    // ftyp: major brand isom, minor version 0
    u32(16); tpe("ftyp"); tpe("isom"); u32(0)
    // moov > mvhd (v0, truncated-but-consistent 24-byte payload:
    // version/flags, creation, modification, timescale, duration, pad)
    val timescale = seed % 9973 + 1
    val duration = seed % 86400 + 1
    u32(8 + 32); tpe("moov")
    u32(32); tpe("mvhd")
    u32(0) // version + flags
    u32(0); u32(0) // creation, modification
    u32(timescale); u32(duration)
    u32(0) // pad
    // free box of seed-derived size
    val nFree = (seed % 31).toInt
    u32(8 + nFree); tpe("free")
    var j = 0
    while (j < nFree) { u8(0); j += 1 }
    // mdat boxes
    val nMdat = (seed % 3 + 1).toInt
    var i = 0
    while (i < nMdat) {
      val n = ((seed + 13 * i) % 4093 + 1).toInt
      u32(8 + n); tpe("mdat")
      j = 0
      while (j < n) { u8(((seed + i + j) % 256).toInt); j += 1 }
      i += 1
    }
    buf.toArray
  }

  private def be32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
      ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)

  private def isType(b: Array[Byte], p: Int, t: String): Boolean =
    b(p) == t.charAt(0).toByte && b(p + 1) == t.charAt(1).toByte &&
      b(p + 2) == t.charAt(2).toByte && b(p + 3) == t.charAt(3).toByte

  /** Box-grammar walk; mode 0 = top-level box count, 1 = total mdat
    * payload bytes, 2 = mvhd timescale, 3 = mvhd duration. Returns -1
    * on any malformed structure (size under 8, box overrunning its
    * bound, boxes not tiling the file, missing mvhd when asked). */
  def mp4Walk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 8) return -1L
    var p = 0
    var boxes = 0L; var mdat = 0L; var timescale = -1L; var duration = -1L
    while (p + 8 <= b.length) {
      val size = be32(b, p)
      if (size < 8 || p + size > b.length) return -1L
      boxes += 1
      if (isType(b, p + 4, "mdat")) mdat += size - 8
      else if (isType(b, p + 4, "moov")) {
        var q = p + 8
        val end = p + size.toInt
        while (q + 8 <= end) {
          val cs = be32(b, q)
          if (cs < 8 || q + cs > end) return -1L
          if (isType(b, q + 4, "mvhd") && cs >= 32) {
            timescale = be32(b, q + 20)
            duration = be32(b, q + 24)
          }
          q += cs.toInt
        }
        if (q != end) return -1L // children must tile the container
      }
      p += size.toInt
    }
    if (p != b.length) return -1L // boxes must tile the file
    if (mode == 0) boxes
    else if (mode == 1) mdat
    else if (mode == 2) timescale
    else duration
  }

  def build(seed: Column): Column =
    ObjectCall.column("mp4_build", this, "buildMp4", BinaryType, Seq(seed))
  def boxCount(media: Column): Column = stat(media, 0)
  def mdatBytes(media: Column): Column = stat(media, 1)
  def timescale(media: Column): Column = stat(media, 2)
  def duration(media: Column): Column = stat(media, 3)

  /** [[mp4Walk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("mp4_stat", this, "mp4Walk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
