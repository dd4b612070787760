package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Frame-level analytics over ANIMATED GIF containers — the
  * frame-sampling slice of the multimodal story (every-k-th-frame
  * selection is the standard video-preprocessing step; GIF is the one
  * mainstream animation container whose FRAME STRUCTURE is walkable
  * without any codec: block-sized sub-chunks, no entropy decoding
  * needed to find frame boundaries).
  *
  * [[buildGif]] writes a structurally valid GIF89a: logical screen
  * descriptor, then per frame a graphic-control extension (delay in
  * centiseconds) + image descriptor (per-frame geometry) + opaque LZW
  * payload sub-blocks, then the 0x3B trailer. [[gifWalk]] re-parses the
  * container block by block — skipping extensions/payloads by their
  * declared sizes, pairing each image descriptor with the preceding
  * control block's delay — and folds one of three statistics:
  * frame count, total animation delay, or an every-k-th-frame sampled
  * checksum Σ (i+1)·(delay_i + w_i·h_i) over frames with i % k = 0,
  * which is sensitive to frame ORDER, GEOMETRY and TIMING, so a walker
  * that miscounts blocks, mis-skips a sub-block, or mispairs delays
  * cannot cancel. Both sides codegen to static calls and stay inside
  * whole-stage codegen: frame inventory across a 100 TB media lake is
  * one scan, no shuffle, no codec library.
  */
object GifFrames {

  /** A structurally valid multi-frame GIF89a with seed-derived frame
    * delays/geometry and opaque payload bytes. */
  def buildGif(seed: Long, n: Int): Array[Byte] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    buf ++= "GIF89a".getBytes("US-ASCII")
    val sw = (seed % 7 + 4).toInt; val sh = (seed % 5 + 3).toInt
    buf += (sw & 0xFF).toByte; buf += ((sw >> 8) & 0xFF).toByte
    buf += (sh & 0xFF).toByte; buf += ((sh >> 8) & 0xFF).toByte
    buf += 0x00; buf += 0x00; buf += 0x00 // no global color table
    var i = 0
    while (i < n) {
      val delay = ((seed + 3 * i) % 50 + 1).toInt
      val fw = i % 3 + 1
      val fh = ((seed + i) % 2 + 1).toInt
      val dataLen = ((seed + i) % 7 + 1).toInt
      // graphic control extension: the frame's delay
      buf += 0x21; buf += 0xF9.toByte; buf += 0x04; buf += 0x00
      buf += (delay & 0xFF).toByte; buf += ((delay >> 8) & 0xFF).toByte
      buf += 0x00; buf += 0x00
      // image descriptor: left=top=0, per-frame geometry, no LCT
      buf += 0x2C
      buf += 0x00; buf += 0x00; buf += 0x00; buf += 0x00
      buf += (fw & 0xFF).toByte; buf += ((fw >> 8) & 0xFF).toByte
      buf += (fh & 0xFF).toByte; buf += ((fh >> 8) & 0xFF).toByte
      buf += 0x00
      // opaque LZW payload: min-code-size byte + one sized sub-block
      buf += 0x02
      buf += (dataLen & 0xFF).toByte
      var j = 0
      while (j < dataLen) { buf += ((seed + i + j) % 256).toByte; j += 1 }
      buf += 0x00 // sub-block terminator
      i += 1
    }
    buf += 0x3B.toByte // trailer
    buf.toArray
  }

  /** Frame-fingerprint corpus delay (the `mm_framehash_dedup`
    * generating formula): like [[graft.functions.PcmSamples.fpSample]],
    * the content seed and frame index mix through two multiplicative
    * congruential streams XORed together, so per-frame delays are
    * near-iid and fingerprint bits carry real entropy (a linear
    * seed-derived delay like [[buildGif]]'s collapses fingerprints the
    * way the linear-ramp PCM corpus collapsed audio fingerprints —
    * the geometry-blind-aHash degeneracy). The content seed folds
    * through mod 100003 FIRST so every intermediate stays far below
    * 2⁶³ at any ScaleUp replica offset (Scala wraps silently where
    * DuckDB BIGINT errors). rendition 1 is the re-encoded clip: the
    * payload bytes change entirely (new entropy coding) and the frame
    * TIMING re-quantizes by a deterministic ±1-centisecond dither —
    * enough to flip near-tie window-energy deltas (planted pairs
    * measure Hamming 0–4) without moving the robust bits. */
  def fpDelay(c: Long, i: Int, rendition: Int): Int = {
    val c2 = c % 100003
    val m1 = (c2 + 3) * 2654435761L + (i + 1).toLong * 48271L
    val m2 = (c2 + 11) * 1103515245L + (i + 1).toLong * (i + 1) * 2246822519L
    val d = ((m1 ^ m2) % 500).toInt + 1
    if (rendition == 0) d else d + (i * 41) % 3 - 1
  }

  /** Fingerprint-corpus GIF: the [[buildGif]] container shape around
    * [[fpDelay]] timing. Renditions share every frame's GEOMETRY and
    * (modulo the ±1 dither) TIMING but have disjoint payload bytes —
    * byte-level dedup sees two unrelated blobs; the temporal
    * fingerprint pairs them. */
  def buildGifFp(c: Long, n: Int, rendition: Int): Array[Byte] = {
    val c2 = (c % 100003).toInt
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    buf ++= "GIF89a".getBytes("US-ASCII")
    val sw = c2 % 7 + 4; val sh = c2 % 5 + 3
    buf += (sw & 0xFF).toByte; buf += ((sw >> 8) & 0xFF).toByte
    buf += (sh & 0xFF).toByte; buf += ((sh >> 8) & 0xFF).toByte
    buf += 0x00; buf += 0x00; buf += 0x00 // no global color table
    var i = 0
    while (i < n) {
      val delay = fpDelay(c, i, rendition)
      val fw = i % 3 + 1
      val fh = ((c + i) % 2 + 1).toInt
      // payload: rendition-dependent length AND bytes — the re-encode
      val dataLen = (c2 + i + 5 * rendition) % 7 + 1
      buf += 0x21; buf += 0xF9.toByte; buf += 0x04; buf += 0x00
      buf += (delay & 0xFF).toByte; buf += ((delay >> 8) & 0xFF).toByte
      buf += 0x00; buf += 0x00
      buf += 0x2C
      buf += 0x00; buf += 0x00; buf += 0x00; buf += 0x00
      buf += (fw & 0xFF).toByte; buf += ((fw >> 8) & 0xFF).toByte
      buf += (fh & 0xFF).toByte; buf += ((fh >> 8) & 0xFF).toByte
      buf += 0x00
      buf += 0x02
      buf += (dataLen & 0xFF).toByte
      var j = 0
      while (j < dataLen) {
        buf += ((c2 + i + j + 13 * rendition) % 256).toByte; j += 1
      }
      buf += 0x00
      i += 1
    }
    buf += 0x3B.toByte
    buf.toArray
  }

  /** Temporal (frame-sequence) fingerprint — the audio
    * sign-of-energy-delta shape applied to frames: walk the container
    * once collecting per-frame stat_i = delay_i + w_i·h_i (the
    * codec-free scalars frame structure exposes — a true per-frame
    * luma needs LZW decoding, which is exactly what a re-encode
    * changes; TIMING and CANVAS are what it preserves), partition the
    * F frames into 65 windows by the integer grid f(i) = (65·i+64)/F
    * (the [[graft.functions.PcmSamples.pcmFingerprint]] closed form,
    * stated identically by the oracle), fold Σ stat per window, set
    * bit f iff E_{f+1} > E_f. Uniform time-scaling (same clip at 2×
    * delay) preserves every delta sign — the gain-invariance argument
    * in the time domain.
    *
    * Validity and fingerprint share ONE byte walk (r15 ADVICE: the
    * expr previously gated with [[gifWalk]] and then re-walked inside
    * the fingerprint — two-to-three container passes per row):
    * [[gifFrameStats]] performs the fully-bounds-checked block walk
    * exactly once, returning the per-frame stats array (null on any
    * malformation — the out-of-band invalid sentinel a Long can't
    * carry, since any 64-bit pattern is a legitimate hash), and
    * [[gifFingerprintFromStats]] folds the windows in O(F) memory
    * without touching the container again. */
  def gifFingerprint(b: Array[Byte], frames: Int): Long = {
    val h = fingerprintOf(b, frames)
    if (h == null) 0L else h // caller gates
  }

  /** One validated walk ([[gifFrameStats]]) plus the window fold: null
    * when the stream is malformed or has under `frames` + 1 frames;
    * boxed because every 64-bit value is a valid fingerprint. */
  def fingerprintOf(b: Array[Byte], frames: Int): java.lang.Long = {
    val stats = gifFrameStats(b)
    if (stats == null || stats.length < frames + 1) null
    else gifFingerprintFromStats(stats, frames)
  }

  /** One fully-validated block walk collecting per-frame
    * stat_i = delay_i + w_i·h_i. Returns null on any malformed
    * structure — same acceptance set as [[gifWalk]] (a spec asserts
    * the equivalence on the malformed corpus). */
  def gifFrameStats(b: Array[Byte]): Array[Long] = {
    if (b == null || b.length < 14 ||
      b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != '8' || b(4) != '9' || b(5) != 'a') return null
    var p = 6
    val gctFlag = (b(p + 4) & 0x80) != 0
    val gctSize = 2 << (b(p + 4) & 7)
    p += 7
    if (gctFlag) p += 3 * gctSize
    val stats = scala.collection.mutable.ArrayBuffer.empty[Long]
    var curDelay = 0L
    while (p < b.length) {
      val tag = b(p) & 0xFF
      if (tag == 0x3B) return stats.toArray
      else if (tag == 0x21) { // extension: label + sized sub-blocks
        if (p + 2 > b.length) return null
        val label = b(p + 1) & 0xFF
        p += 2
        var first = true
        var inBlocks = true
        while (inBlocks) {
          if (p >= b.length) return null
          val sz = b(p) & 0xFF
          if (sz == 0) { p += 1; inBlocks = false }
          else {
            if (p + 1 + sz > b.length) return null
            if (first && label == 0xF9 && sz >= 3)
              curDelay = ((b(p + 2) & 0xFF) | ((b(p + 3) & 0xFF) << 8)).toLong
            first = false
            p += 1 + sz
          }
        }
      } else if (tag == 0x2C) { // image descriptor = one frame
        if (p + 10 > b.length) return null
        val fw = (b(p + 5) & 0xFF) | ((b(p + 6) & 0xFF) << 8)
        val fh = (b(p + 7) & 0xFF) | ((b(p + 8) & 0xFF) << 8)
        val lctFlag = (b(p + 9) & 0x80) != 0
        val lctSize = 2 << (b(p + 9) & 7)
        p += 10
        if (lctFlag) p += 3 * lctSize
        if (p >= b.length) return null
        p += 1 // LZW minimum code size
        var inBlocks = true
        while (inBlocks) {
          if (p >= b.length) return null
          val sz = b(p) & 0xFF
          if (sz == 0) { p += 1; inBlocks = false }
          else { if (p + 1 + sz > b.length) return null; p += 1 + sz }
        }
        stats += curDelay + fw.toLong * fh
        curDelay = 0L
      } else return null
    }
    null // ran off the end without a trailer
  }

  /** 65-window fold over an already-collected stats array — O(F)
    * integers, no container access. */
  def gifFingerprintFromStats(stats: Array[Long], frames: Int): Long = {
    val nf = stats.length
    val e = new Array[Long](frames + 1)
    var idx = 0
    while (idx < nf) {
      e((((frames + 1).toLong * idx + frames) / nf).toInt) += stats(idx)
      idx += 1
    }
    var hash = 0L
    var k = 0
    while (k < frames) {
      if (e(k + 1) > e(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Block-structure walk; mode 0 = frame count, 1 = Σ delay,
    * 2 = Σ (i+1)·(delay_i + w_i·h_i) over frames with i % k = 0.
    * Returns -1 on any malformed structure (bad magic, truncated
    * block, unknown tag, missing trailer). */
  def gifWalk(b: Array[Byte], mode: Int, k: Int): Long = {
    if (k <= 0) return -1L // decimation step must be positive (pcmWalk's contract)
    if (b == null || b.length < 14 ||
      b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != '8' || b(4) != '9' || b(5) != 'a') return -1L
    var p = 6
    val gctFlag = (b(p + 4) & 0x80) != 0
    val gctSize = 2 << (b(p + 4) & 7)
    p += 7
    if (gctFlag) p += 3 * gctSize
    var frames = 0L; var totalDelay = 0L; var sampled = 0L
    var curDelay = 0L
    while (p < b.length) {
      val tag = b(p) & 0xFF
      if (tag == 0x3B) {
        return if (mode == 0) frames
        else if (mode == 1) totalDelay
        else sampled
      } else if (tag == 0x21) { // extension: label + sized sub-blocks
        if (p + 2 > b.length) return -1L
        val label = b(p + 1) & 0xFF
        p += 2
        var first = true
        var inBlocks = true
        while (inBlocks) {
          if (p >= b.length) return -1L
          val sz = b(p) & 0xFF
          if (sz == 0) { p += 1; inBlocks = false }
          else {
            if (p + 1 + sz > b.length) return -1L
            if (first && label == 0xF9 && sz >= 3)
              curDelay = ((b(p + 2) & 0xFF) | ((b(p + 3) & 0xFF) << 8)).toLong
            first = false
            p += 1 + sz
          }
        }
      } else if (tag == 0x2C) { // image descriptor = one frame
        if (p + 10 > b.length) return -1L
        val fw = (b(p + 5) & 0xFF) | ((b(p + 6) & 0xFF) << 8)
        val fh = (b(p + 7) & 0xFF) | ((b(p + 8) & 0xFF) << 8)
        val lctFlag = (b(p + 9) & 0x80) != 0
        val lctSize = 2 << (b(p + 9) & 7)
        p += 10
        if (lctFlag) p += 3 * lctSize
        if (p >= b.length) return -1L
        p += 1 // LZW minimum code size
        var inBlocks = true
        while (inBlocks) {
          if (p >= b.length) return -1L
          val sz = b(p) & 0xFF
          if (sz == 0) { p += 1; inBlocks = false }
          else { if (p + 1 + sz > b.length) return -1L; p += 1 + sz }
        }
        if (mode == 2 && frames % k == 0)
          sampled += (frames + 1) * (curDelay + fw.toLong * fh)
        totalDelay += curDelay
        curDelay = 0L
        frames += 1
      } else return -1L
    }
    -1L // ran off the end without a trailer
  }

  def build(seed: Column, n: Column): Column =
    ObjectCall.column("gif_build", this, "buildGif", BinaryType, Seq(seed, n))
  def buildFp(c: Column, n: Column, rendition: Int): Column = {
    require(rendition == 0 || rendition == 1, "rendition is 0 or 1")
    ObjectCall.column("gif_fp_build", this, "buildGifFp", BinaryType,
      Seq(c, n.cast("int")), Seq(rendition))
  }
  def fingerprint(media: Column, frames: Int): Column = {
    require(frames > 0 && frames <= 64, "fingerprint must fit 64 bits")
    ObjectCall.column("gif_fingerprint", this, "fingerprintOf", LongType,
      Seq(media), Seq(frames), boxed = true)
  }
  def frameCount(media: Column): Column = stat(media, 0, 1)
  def totalDelay(media: Column): Column = stat(media, 1, 1)
  def sampledSum(media: Column, k: Int): Column = stat(media, 2, k)

  /** [[gifWalk]]'s fold `mode`; its -1 sentinel is NULL. */
  private def stat(media: Column, mode: Int, k: Int): Column =
    ObjectCall.column("gif_stat", this, "gifWalk", LongType, Seq(media),
      Seq(mode, k), nullOn = Some(-1L))
}
