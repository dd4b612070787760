package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Central-directory analytics over ZIP archives — the shard-container
  * slice of the multimodal story: training corpora ship as zip/tar
  * shards, and "how many members, how big, how compressed" is an
  * inventory question the archive DIRECTORY answers without touching
  * any member payload. Unlike every other walker in this package the
  * entry point is at the END of the stream: the walker scans backward
  * for the end-of-central-directory record (whose trailing comment
  * makes the offset variable), then jumps to the directory offset it
  * declares — both directions validated against each other.
  *
  * [[buildZip]] writes a structurally valid archive per seed: n local
  * headers with deterministic payloads, the central directory, and an
  * EOCD with a seed-length comment. All multi-byte fields are
  * little-endian (the one LE grammar in the battery alongside RIFF).
  * [[zipWalk]] locates the EOCD backward, validates the directory
  * tiles [cdOff, cdOff+cdSize), that each directory entry's local
  * offset points at a real local-header signature, and that the entry
  * census matches the EOCD count.
  *
  * Generating formulas (restated by the oracle, independent of builder
  * AND walker): n = seed%5+1; compressed i = (seed+11i)%509+1;
  * uncompressed i = compressed i + (i%3)*17; method i = 8 when
  * (seed+i)%2=1 else 0 (stored).
  */
object ZipDirectory {

  /** A structurally valid ZIP archive with seed-derived inventory. */
  def buildZip(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Long): Unit = buf += (v & 0xFF).toByte
    def u16(v: Long): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Long): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    val n = (seed % 5 + 1).toInt
    val offsets = new Array[Long](n)
    var i = 0
    while (i < n) {
      offsets(i) = buf.length.toLong
      val name = "f" + i
      val comp = (seed + 11 * i) % 509 + 1
      val uncomp = comp + (i % 3) * 17
      val method = if ((seed + i) % 2 == 1) 8L else 0L
      u32(0x04034B50L) // local header signature PK\3\4
      u16(20); u16(0); u16(method)
      u16(0); u16(0) // mod time/date
      u32((seed * 31 + i) & 0xFFFFFFFFL) // crc32
      u32(comp); u32(uncomp)
      u16(name.length); u16(0)
      name.foreach(c => u8(c.toLong))
      var j = 0L
      while (j < comp) { u8((seed + i + j) % 256); j += 1 }
      i += 1
    }
    val cdOff = buf.length.toLong
    i = 0
    while (i < n) {
      val name = "f" + i
      val comp = (seed + 11 * i) % 509 + 1
      val uncomp = comp + (i % 3) * 17
      val method = if ((seed + i) % 2 == 1) 8L else 0L
      u32(0x02014B50L) // central directory signature PK\1\2
      u16(20); u16(20); u16(0); u16(method)
      u16(0); u16(0)
      u32((seed * 31 + i) & 0xFFFFFFFFL)
      u32(comp); u32(uncomp)
      u16(name.length); u16(0); u16(0)
      u16(0); u16(0); u32(0) // disk, int attrs, ext attrs
      u32(offsets(i))
      name.foreach(c => u8(c.toLong))
      i += 1
    }
    val cdSize = buf.length - cdOff
    val commentLen = (seed % 13).toInt
    u32(0x06054B50L) // EOCD signature PK\5\6
    u16(0); u16(0); u16(n); u16(n)
    u32(cdSize); u32(cdOff)
    u16(commentLen)
    var j = 0
    while (j < commentLen) { u8((seed + j) % 256); j += 1 }
    buf.toArray
  }

  private def le16(b: Array[Byte], p: Int): Long =
    (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8)
  private def le32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)

  /** Backward EOCD scan + forward directory walk; mode 0 = entry
    * count, 1 = total compressed bytes, 2 = total uncompressed bytes,
    * 3 = deflate (method 8) entry count. Returns -1 on any malformed
    * structure: no EOCD, directory not tiling its declared span,
    * census ≠ EOCD count, or a local offset not pointing at PK\3\4. */
  def zipWalk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 22) return -1L
    // EOCD is the last 22+comment bytes; comment length is declared
    // INSIDE the record, so scan back for a signature whose declared
    // comment exactly reaches the end of the stream
    var e = b.length - 22
    var found = -1
    while (e >= 0 && found < 0) {
      if (le32(b, e) == 0x06054B50L && e + 22 + le16(b, e + 20) == b.length)
        found = e
      e -= 1
    }
    if (found < 0) return -1L
    val nDeclared = le16(b, found + 10)
    val cdSize = le32(b, found + 12)
    val cdOff = le32(b, found + 16)
    if (cdOff + cdSize != found.toLong) return -1L
    var p = cdOff.toInt
    val end = found
    var census = 0L; var comp = 0L; var uncomp = 0L; var deflated = 0L
    while (p < end) {
      if (p + 46 > end || le32(b, p) != 0x02014B50L) return -1L
      val method = le16(b, p + 10)
      comp += le32(b, p + 20)
      uncomp += le32(b, p + 24)
      if (method == 8L) deflated += 1
      val nameLen = le16(b, p + 28).toInt
      val extraLen = le16(b, p + 30).toInt
      val commentLen = le16(b, p + 32).toInt
      val localOff = le32(b, p + 42)
      if (localOff + 4 > b.length || le32(b, localOff.toInt) != 0x04034B50L)
        return -1L
      census += 1
      p += 46 + nameLen + extraLen + commentLen
    }
    if (p != end || census != nDeclared) return -1L
    if (mode == 0) census
    else if (mode == 1) comp
    else if (mode == 2) uncomp
    else deflated
  }

  def build(seed: Column): Column =
    ObjectCall.column("zip_build", this, "buildZip", BinaryType, Seq(seed))
  def entryCount(media: Column): Column = stat(media, 0)
  def compressedBytes(media: Column): Column = stat(media, 1)
  def uncompressedBytes(media: Column): Column = stat(media, 2)
  def deflateCount(media: Column): Column = stat(media, 3)

  /** [[zipWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("zip_stat", this, "zipWalk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
