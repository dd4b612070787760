package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** IFD-level analytics over TIFF containers — the EXIF-metadata slice
  * of the multimodal story. TIFF's image-file-directory grammar (byte
  * order mark `II`/`MM`, magic 42, offset-chained IFDs of 12-byte
  * tag entries) is the base format of EXIF metadata, and it is fully
  * walkable without touching strip/tile pixel data. The wrinkle that
  * makes it a REAL parser exercise: the byte order is per-file — a
  * correct walker must read every 16/32-bit field in either
  * endianness, so the builder emits little-endian (`II`) for even
  * seeds and big-endian (`MM`) for odd seeds and a single code path
  * must handle both.
  *
  * [[buildTiff]] writes a structurally valid single-IFD TIFF: header,
  * entry count, ImageWidth(256)/ImageLength(257)/Compression(259)
  * entries plus seed-many private tags with inline LONG values, sorted
  * ascending by tag id as the spec requires, terminated by a zero
  * next-IFD offset. [[tiffWalk]] re-parses it and folds one of four
  * statistics: entry count, width, height, or Σ tag·value over inline
  * values — order- and endianness-sensitive, so a swapped byte or
  * mis-stepped entry cannot cancel.
  */
object TiffTags {

  /** A structurally valid single-IFD TIFF; even seed → II (little
    * endian), odd seed → MM (big endian). */
  def buildTiff(seed: Long): Array[Byte] = {
    val little = seed % 2 == 0
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def p16(v: Int): Unit =
      if (little) { buf += (v & 0xFF).toByte; buf += ((v >> 8) & 0xFF).toByte }
      else { buf += ((v >> 8) & 0xFF).toByte; buf += (v & 0xFF).toByte }
    def p32(v: Long): Unit =
      if (little) {
        buf += (v & 0xFF).toByte; buf += ((v >> 8) & 0xFF).toByte
        buf += ((v >> 16) & 0xFF).toByte; buf += ((v >> 24) & 0xFF).toByte
      } else {
        buf += ((v >> 24) & 0xFF).toByte; buf += ((v >> 16) & 0xFF).toByte
        buf += ((v >> 8) & 0xFF).toByte; buf += (v & 0xFF).toByte
      }
    val bom = if (little) 'I' else 'M'
    buf += bom.toByte; buf += bom.toByte
    p16(42)
    p32(8L) // IFD starts right after the header
    val extra = (seed % 3).toInt
    // entries sorted ascending by tag: 256, 257, 259, then 32768+i
    val entries: Seq[(Int, Long)] =
      Seq(256 -> (seed % 977 + 1), 257 -> (seed % 433 + 1), 259 -> 1L) ++
        (0 until extra).map(i => (32768 + i) -> ((seed * 31 + i) % 65536))
    p16(entries.length)
    for ((tag, value) <- entries) {
      p16(tag); p16(4) // type 4 = LONG, inline in the value slot
      p32(1L)
      p32(value)
    }
    p32(0L) // no next IFD
    buf.toArray
  }

  /** IFD walk; mode 0 = entry count, 1 = ImageWidth (tag 256),
    * 2 = ImageLength (tag 257), 3 = Σ tag·value over inline LONG/SHORT
    * values. Returns -1 on malformed structure (bad BOM, magic ≠ 42,
    * truncation, unsorted tags) or, in modes 1-2, a missing tag. */
  def tiffWalk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 8) return -1L
    val little =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return -1L
    def r16(p: Int): Int =
      if (little) (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
      else ((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)
    def r32(p: Int): Long =
      if (little) (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
        ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
      else ((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
        ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL)
    if (r16(2) != 42) return -1L
    val ifd = r32(4)
    if (ifd < 8 || ifd + 2 > b.length) return -1L
    val p0 = ifd.toInt
    val n = r16(p0)
    if (p0 + 2 + 12 * n + 4 > b.length) return -1L
    var width = -1L; var height = -1L; var checksum = 0L
    var prevTag = -1
    var i = 0
    while (i < n) {
      val p = p0 + 2 + 12 * i
      val tag = r16(p)
      if (tag <= prevTag) return -1L // spec: ascending, unique
      prevTag = tag
      val tpe = r16(p + 2)
      val count = r32(p + 4)
      // inline SHORT (3) / LONG (4) single values only; others skipped
      if (count == 1L && (tpe == 3 || tpe == 4)) {
        val v = if (tpe == 3) r16(p + 8).toLong else r32(p + 8)
        if (tag == 256) width = v
        if (tag == 257) height = v
        checksum += tag.toLong * v
      }
      i += 1
    }
    mode match {
      case 0 => n.toLong
      case 1 => width
      case 2 => height
      case _ => checksum
    }
  }

  def build(seed: Column): Column =
    ObjectCall.column("tiff_build", this, "buildTiff", BinaryType, Seq(seed))
  def entryCount(media: Column): Column = stat(media, 0)
  def width(media: Column): Column = stat(media, 1)
  def height(media: Column): Column = stat(media, 2)
  def tagChecksum(media: Column): Column = stat(media, 3)

  /** [[tiffWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("tiff_stat", this, "tiffWalk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
