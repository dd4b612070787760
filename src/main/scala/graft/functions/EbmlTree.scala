package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Element-tree analytics over EBML containers (Matroska/WebM) — the
  * variable-length-integer slice of the multimodal story. EBML is the
  * one mainstream media grammar whose lengths are NOT fixed-width:
  * both element IDs and sizes are VINTs — the count of leading zero
  * bits in the first byte selects the total width, a marker bit
  * follows, and the value is the remaining bits. Walking it correctly
  * is therefore a different exercise from the RIFF/ISO-BMFF walkers:
  * every offset is data-dependent.
  *
  * [[buildEbml]] writes a structurally valid stream per seed: an EBML
  * header element, then a Segment containing an Info (with a 3-byte
  * TimestampScale) and seed-many Cluster elements with seed-derived
  * payload sizes. Sizes are deliberately written as 2-byte VINTs so
  * the walker's multi-byte path is exercised on every element.
  * [[ebmlWalk]] re-walks the tree, validating that children exactly
  * tile their containers and that no VINT is malformed (a 0x00 lead
  * byte has no marker inside 8 bits).
  *
  * Generating formulas (restated by the oracle, independent of builder
  * AND walker): nClusters = seed%4+1 → census = 4 + nClusters
  * (header, segment, info, timestampScale, clusters); cluster payload
  * i is (seed+7i)%199+1 bytes; timestampScale = seed%999983+1.
  */
object EbmlTree {

  private val IdHeader = 0x1A45DFA3L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdCluster = 0x1F43B675L

  /** A structurally valid EBML stream with seed-derived inventory. */
  def buildEbml(seed: Long): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Long): Unit = buf += (v & 0xFF).toByte
    // IDs are stored with their marker bit: width is implied by the
    // leading byte, so a 4-byte id is written raw big-endian
    def id(v: Long, width: Int): Unit = {
      var i = width - 1
      while (i >= 0) { u8(v >> (8 * i)); i -= 1 }
    }
    // sizes always as 2-byte VINTs (01xxxxxx xxxxxxxx, 14-bit payload)
    def size2(v: Long): Unit = { u8(0x40L | (v >> 8)); u8(v) }
    val ts = seed % 999983 + 1
    val nClusters = (seed % 4 + 1).toInt
    // EBML header: 4-byte payload (version fields, opaque to the walk)
    id(IdHeader, 4); size2(4); u8(1); u8(1); u8(1); u8(1)
    // Info = TimestampScale element (3-byte id, 3-byte payload)
    val tsScaleLen = 3 + 2 + 3 // id + size + payload
    val infoLen = 4 + 2 + tsScaleLen
    var clustersLen = 0L
    var i = 0
    while (i < nClusters) {
      clustersLen += 4 + 2 + ((seed + 7 * i) % 199 + 1)
      i += 1
    }
    id(IdSegment, 4); size2(infoLen + clustersLen)
    id(IdInfo, 4); size2(tsScaleLen)
    id(IdTimestampScale, 3); size2(3)
    u8(ts >> 16); u8(ts >> 8); u8(ts)
    i = 0
    while (i < nClusters) {
      val n = ((seed + 7 * i) % 199 + 1).toInt
      id(IdCluster, 4); size2(n)
      var j = 0
      while (j < n) { u8((seed + i + j) % 256); j += 1 }
      i += 1
    }
    buf.toArray
  }

  /** VINT at p in b (bounded by end): returns (width << 56) | value,
    * value with marker stripped when strip, kept for IDs. -1 if
    * malformed or out of bounds. */
  private def vint(b: Array[Byte], p: Int, end: Int, strip: Boolean): Long = {
    if (p >= end) return -1L
    val first = b(p) & 0xFF
    if (first == 0) return -1L // no marker within 8 bits
    val width = java.lang.Integer.numberOfLeadingZeros(first) - 24 + 1
    if (p + width > end) return -1L
    var v = if (strip) (first ^ (0x100 >> width)).toLong else first.toLong
    var i = 1
    while (i < width) { v = (v << 8) | (b(p + i) & 0xFF); i += 1 }
    (width.toLong << 56) | v
  }

  /** EBML tree walk; mode 0 = element census (all depths), 1 = total
    * Cluster payload bytes, 2 = TimestampScale value, 3 = Cluster
    * count. Returns -1 on any malformed structure (bad VINT, child
    * overrunning or not tiling its container). */
  def ebmlWalk(b: Array[Byte], mode: Int): Long = {
    if (b == null || b.length < 4) return -1L
    var census = 0L; var clusterBytes = 0L; var tsScale = -1L
    var nClusters = 0L
    def walk(start: Int, end: Int, depth: Int): Boolean = {
      var p = start
      while (p < end) {
        val idr = vint(b, p, end, strip = false)
        if (idr == -1L) return false
        val idW = (idr >> 56).toInt; val idV = idr & 0xFFFFFFFFFFFFFFL
        val szr = vint(b, p + idW, end, strip = true)
        if (szr == -1L) return false
        val szW = (szr >> 56).toInt; val sz = szr & 0xFFFFFFFFFFFFFFL
        val body = p + idW + szW
        if (body + sz > end) return false
        census += 1
        if (idV == IdSegment || idV == IdInfo) {
          if (!walk(body, body + sz.toInt, depth + 1)) return false
        } else if (idV == IdCluster) {
          nClusters += 1; clusterBytes += sz
        } else if (idV == IdTimestampScale) {
          var v = 0L; var i = 0
          while (i < sz) { v = (v << 8) | (b(body + i) & 0xFF); i += 1 }
          tsScale = v
        }
        p = body + sz.toInt
      }
      p == end // children must tile the container
    }
    if (!walk(0, b.length, 0)) return -1L
    if (mode == 0) census
    else if (mode == 1) clusterBytes
    else if (mode == 2) tsScale
    else nClusters
  }

  // ------------------------------------------------------------------
  // Temporal fingerprint over CLUSTER TIMESTAMPS (r15 VERDICT task 8):
  // the GIF frame-sequence fingerprint's 65-window fold applied to a
  // second container grammar, proving the operator is
  // container-agnostic — the stats collector changes (VINT tree walk
  // vs fixed-width block walk), the fold is THE SAME code
  // ([[GifFrames.gifFingerprintFromStats]]).
  // ------------------------------------------------------------------

  private val IdTimestamp = 0xE7L
  private val IdSimpleBlock = 0xA3L

  /** inter-cluster duration i for fingerprint corpus c — shared between
    * renditions modulo rendition 1's deterministic ±1 re-quantization
    * dither (the [[GifFrames.fpDelay]] pattern on cluster timing) */
  def fpClusterDelta(c: Long, i: Int, rendition: Int): Long = {
    val c2 = c % 100003
    val m1 = (c2 + 5) * 2654435761L + (i + 1).toLong * 48271L
    val m2 = (c2 + 13) * 1103515245L + (i + 1).toLong * (i + 1) * 2246822519L
    val d = (m1 ^ m2) % 500 + 1
    if (rendition == 0) d else d + (i * 37) % 3 - 1
  }

  /** Fingerprint-corpus EBML stream: n Clusters, each carrying a
    * Timestamp child (id 0xE7) with the CUMULATIVE [[fpClusterDelta]]
    * timing plus a SimpleBlock (id 0xA3) whose length AND bytes are
    * rendition-dependent — a re-encode shares no payload bytes with
    * the original; only the cluster TIMING survives. */
  def buildEbmlFp(c: Long, n: Int, rendition: Int): Array[Byte] = {
    val c2 = (c % 100003).toInt
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Long): Unit = buf += (v & 0xFF).toByte
    def id(v: Long, width: Int): Unit = {
      var i = width - 1
      while (i >= 0) { u8(v >> (8 * i)); i -= 1 }
    }
    def size2(v: Long): Unit = { u8(0x40L | (v >> 8)); u8(v) }
    // 4-byte VINT (0001xxxx + 3 bytes): segment bodies here exceed the
    // 14-bit size2 range once n reaches the fingerprint corpus sizes
    def size4(v: Long): Unit = { u8(0x10L | (v >> 24)); u8(v >> 16); u8(v >> 8); u8(v) }
    id(IdHeader, 4); size2(4); u8(1); u8(1); u8(1); u8(1)
    val tsScaleLen = 3 + 2 + 3
    val infoLen = 4 + 2 + tsScaleLen
    def blockLen(i: Int): Int = (c2 + 7 * i + 31 * rendition) % 97 + 1
    var clustersLen = 0L
    var i = 0
    while (i < n) {
      // Timestamp (1+2+4) + SimpleBlock (1+2+len)
      clustersLen += 4 + 2 + (7 + 3 + blockLen(i))
      i += 1
    }
    id(IdSegment, 4); size4(infoLen + clustersLen)
    id(IdInfo, 4); size2(tsScaleLen)
    id(IdTimestampScale, 3); size2(3)
    val ts = c % 999983 + 1
    u8(ts >> 16); u8(ts >> 8); u8(ts)
    var cum = 0L
    i = 0
    while (i < n) {
      cum += fpClusterDelta(c, i, rendition)
      val len = blockLen(i)
      id(IdCluster, 4); size2(7 + 3 + len)
      id(IdTimestamp, 1); size2(4)
      u8(cum >> 24); u8(cum >> 16); u8(cum >> 8); u8(cum)
      id(IdSimpleBlock, 1); size2(len)
      var j = 0
      while (j < len) { u8((c2 + i * (rendition + 2) + j * 31 + 17 * rendition) % 256); j += 1 }
      i += 1
    }
    buf.toArray
  }

  /** One fully-validated VINT-tree walk collecting per-cluster
    * stat_i = timestamp_i − timestamp_{i−1} (the inter-cluster
    * duration; ts_{−1} = 0). Null on any malformed structure — same
    * acceptance rules as [[ebmlWalk]] (bad VINT, child overrunning or
    * not tiling its container) plus: every Cluster must carry a
    * Timestamp child. Feed the result to
    * [[GifFrames.gifFingerprintFromStats]] — ONE walk per container,
    * the [[GifFrames.gifFrameStats]] contract on the second grammar. */
  def ebmlClusterStats(b: Array[Byte]): Array[Long] = {
    if (b == null || b.length < 4) return null
    val stats = scala.collection.mutable.ArrayBuffer.empty[Long]
    var prevTs = 0L
    var bad = false
    def walk(start: Int, end: Int, inCluster: Boolean): Boolean = {
      var p = start
      var clusterTs = -1L
      while (p < end) {
        val idr = vint(b, p, end, strip = false)
        if (idr == -1L) return false
        val idW = (idr >> 56).toInt; val idV = idr & 0xFFFFFFFFFFFFFFL
        val szr = vint(b, p + idW, end, strip = true)
        if (szr == -1L) return false
        val szW = (szr >> 56).toInt; val sz = szr & 0xFFFFFFFFFFFFFFL
        val body = p + idW + szW
        if (body + sz > end) return false
        if (idV == IdSegment || idV == IdInfo) {
          if (!walk(body, body + sz.toInt, inCluster = false)) return false
        } else if (idV == IdCluster) {
          if (!walk(body, body + sz.toInt, inCluster = true)) return false
        } else if (inCluster && idV == IdTimestamp && clusterTs == -1L) {
          var v = 0L; var i = 0
          while (i < sz) { v = (v << 8) | (b(body + i) & 0xFF); i += 1 }
          clusterTs = v
        }
        p = body + sz.toInt
      }
      if (inCluster) {
        if (clusterTs == -1L) bad = true // a Cluster without a Timestamp
        else { stats += clusterTs - prevTs; prevTs = clusterTs }
      }
      p == end
    }
    if (!walk(0, b.length, inCluster = false) || bad) null else stats.toArray
  }

  /** Temporal fingerprint over cluster timestamps: one validated walk
    * ([[ebmlClusterStats]]) plus the shared 65-window fold. Null when
    * the stream is malformed or has under `frames` + 1 clusters; boxed
    * because every 64-bit value is a valid fingerprint. */
  def fingerprintOf(b: Array[Byte], frames: Int): java.lang.Long = {
    val stats = ebmlClusterStats(b)
    if (stats == null || stats.length < frames + 1) null
    else GifFrames.gifFingerprintFromStats(stats, frames)
  }

  def buildFp(c: Column, n: Column, rendition: Int): Column = {
    require(rendition == 0 || rendition == 1, "rendition is 0 or 1")
    ObjectCall.column("ebml_fp_build", this, "buildEbmlFp", BinaryType,
      Seq(c, n.cast("int")), Seq(rendition))
  }
  def fingerprint(media: Column, frames: Int): Column = {
    require(frames > 0 && frames <= 64, "fingerprint must fit 64 bits")
    ObjectCall.column("ebml_fingerprint", this, "fingerprintOf", LongType,
      Seq(media), Seq(frames), boxed = true)
  }

  def build(seed: Column): Column =
    ObjectCall.column("ebml_build", this, "buildEbml", BinaryType, Seq(seed))
  def elementCount(media: Column): Column = stat(media, 0)
  def clusterBytes(media: Column): Column = stat(media, 1)
  def timestampScale(media: Column): Column = stat(media, 2)
  def clusterCount(media: Column): Column = stat(media, 3)

  /** [[ebmlWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int): Column =
    ObjectCall.column("ebml_stat", this, "ebmlWalk", LongType, Seq(media),
      Seq(mode), nullOn = Some(-1L))
}
