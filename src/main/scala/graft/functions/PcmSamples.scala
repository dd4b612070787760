package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, LongType}

/** SAMPLE-level analytics over RIFF/WAVE PCM audio — the audio
  * feature-extraction slice of the multimodal story (reference keeps
  * media opaque; cf. /root/reference/schema.avsc which carries only
  * scalar columns). 16-bit PCM is the one mainstream audio encoding
  * whose samples need no codec: each is a little-endian signed short,
  * so energy / peak / zero-crossing / decimation statistics are pure
  * byte arithmetic — the honest non-stub slice of audio decode
  * (MP3/AAC/Opus stay stubbed: entropy-coded, no codecs in the
  * container).
  *
  * [[buildWav]] writes a fully valid RIFF/WAVE container: `fmt ` chunk
  * (PCM, mono, 16-bit), then an ODD-sized `LIST` filler chunk, then the
  * `data` chunk of seed-derived samples. The filler is load-bearing for
  * the test: a parser that assumes samples start at byte 44 (the
  * header-only layout) reads the filler as audio and every statistic
  * changes; the odd size additionally forces the RIFF even-padding rule.
  * [[pcmWalk]] re-parses chunk by chunk and folds one statistic over
  * the samples:
  *   - energy Σ v² and peak max|v| — the standard loudness features;
  *   - zero crossings — the classic cheap pitch/voicedness proxy;
  *   - an every-k-th-sample DECIMATION checksum Σ (i/k+1)·v_i over
  *     i ≡ 0 (mod k) — audio downsampling as frame-sampling is for
  *     video; the (i/k+1) weight pins sample POSITION, so an off-by-one
  *     stride or an endianness slip cannot cancel.
  * Both sides codegen to static calls and stay inside whole-stage
  * codegen: feature extraction across a 100 TB audio lake is one scan,
  * no shuffle, no codec library.
  */
object PcmSamples {

  /** Returned by [[pcmWalk]] for malformed input (NOT -1: the decimation
    * checksum is signed, so -1 is a legitimate output). */
  final val Invalid: Long = Long.MinValue

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
  private def putTag(b: Array[Byte], i: Int, t: String): Unit = {
    var j = 0
    while (j < 4) { b(i + j) = t.charAt(j).toByte; j += 1 }
  }

  /** Deterministic sample i for a seed — the generating formula the
    * oracle recomputes: ((seed·31 + i·37) mod 65536) − 32768. Crosses
    * zero every ~885 samples in i-order, so zero-crossing counts are
    * nontrivial; all operands stay far below Long range (no wrap to
    * disagree with DuckDB's overflow-checked BIGINT). */
  private def sample(seed: Long, i: Int): Int =
    (((seed * 31 + i.toLong * 37) % 65536) - 32768).toInt

  private val FillerLen = 5 // "INFO" + 1 junk byte; ODD → pad byte follows

  /** A valid RIFF/WAVE: fmt (PCM mono 16-bit) + odd LIST filler + data. */
  def buildWav(seed: Long, rate: Int, n: Int): Array[Byte] = {
    val fillerPadded = FillerLen + (FillerLen & 1)
    val total = 12 + (8 + 16) + (8 + fillerPadded) + (8 + 2 * n)
    val b = new Array[Byte](total)
    putTag(b, 0, "RIFF"); putLe32(b, 4, total - 8); putTag(b, 8, "WAVE")
    putTag(b, 12, "fmt "); putLe32(b, 16, 16)
    putLe16(b, 20, 1)          // PCM
    putLe16(b, 22, 1)          // mono
    putLe32(b, 24, rate)
    putLe32(b, 28, rate * 2)   // byte rate
    putLe16(b, 32, 2)          // block align
    putLe16(b, 34, 16)         // bits per sample
    putTag(b, 36, "LIST"); putLe32(b, 40, FillerLen)
    putTag(b, 44, "INFO"); b(48) = 0x5A // junk + implicit 0x00 pad at 49
    val dataOff = 44 + fillerPadded
    putTag(b, dataOff, "data"); putLe32(b, dataOff + 4, 2 * n)
    var i = 0
    while (i < n) {
      putLe16(b, dataOff + 8 + 2 * i, sample(seed, i) & 0xFFFF)
      i += 1
    }
    b
  }

  /** Audio-fingerprint corpus sample (the `mm_audio_fingerprint`
    * generating formula): unlike [[sample]]'s linear ramp — whose
    * quasi-periodic energy profile collapses 20k fingerprints into
    * ~2.5k distinct values (measured; the geometry-blind-aHash failure
    * mode) — this mixes the content seed and position through two
    * multiplicative congruential streams XORed together, giving
    * near-iid samples so fingerprint bits carry real entropy and the
    * banded buckets stay linear. The content seed folds through
    * mod 100003 FIRST so every intermediate stays far below 2⁶³ at any
    * ScaleUp replica offset — Scala wraps silently where DuckDB BIGINT
    * errors, so no intermediate may ever reach the boundary.
    * rendition 1 is the re-encoded near-dup: truncating half gain
    * (Java `/2` ≡ DuckDB `//2`, both toward zero) plus a deterministic
    * ±200 dither — ~2.5% of full scale, enough to flip near-tie energy
    * deltas (planted pairs measure Hamming 0–4) without moving the
    * robust bits. */
  def fpSample(c: Long, i: Int, rendition: Int): Int = {
    val c2 = c % 100003
    val m1 = (c2 + 1) * 2654435761L + (i + 1).toLong * 40503L
    val m2 = (c2 + 7) * 1103515245L + (i + 1).toLong * (i + 1) * 2246822519L
    val v = ((m1 ^ m2) % 65536).toInt - 32768
    if (rendition == 0) v
    else v / 2 + ((i * 37) % 401) - 200
  }

  /** Fingerprint-corpus WAV: the [[buildWav]] container (fmt + odd LIST
    * filler + data) around [[fpSample]] content. */
  def buildWavFp(c: Long, rate: Int, n: Int, rendition: Int): Array[Byte] = {
    val fillerPadded = FillerLen + (FillerLen & 1)
    val total = 12 + (8 + 16) + (8 + fillerPadded) + (8 + 2 * n)
    val b = new Array[Byte](total)
    putTag(b, 0, "RIFF"); putLe32(b, 4, total - 8); putTag(b, 8, "WAVE")
    putTag(b, 12, "fmt "); putLe32(b, 16, 16)
    putLe16(b, 20, 1); putLe16(b, 22, 1)
    putLe32(b, 24, rate); putLe32(b, 28, rate * 2)
    putLe16(b, 32, 2); putLe16(b, 34, 16)
    putTag(b, 36, "LIST"); putLe32(b, 40, FillerLen)
    putTag(b, 44, "INFO"); b(48) = 0x5A
    val dataOff = 44 + fillerPadded
    putTag(b, dataOff, "data"); putLe32(b, dataOff + 4, 2 * n)
    var i = 0
    while (i < n) {
      putLe16(b, dataOff + 8 + 2 * i, fpSample(c, i, rendition) & 0xFFFF)
      i += 1
    }
    b
  }

  /** Sign-of-energy-delta audio fingerprint (the Haitsma–Kalker shape
    * reduced to one band): partition the sample stream into `frames`+1
    * frames by the integer grid f·n/(frames+1), fold exact Σv² per
    * frame, set bit f (LSB-first) iff E_{f+1} > E_f. Frame membership
    * uses the closed form f(i) = ((frames+1)·i + frames) / n — the
    * SAME integer expression the oracle states, so both engines define
    * identical frame boundaries for every n. Gain-scaling invariance is
    * the point: uniform scaling multiplies every E_f, preserving all
    * delta signs. Returns [[Invalid]] on malformed input (an all-ones
    * fingerprint is a legitimate crescendo, so the aHash -1 trick does
    * not apply; Invalid = Long.MinValue would collide with the
    * bit-63-only pattern, which is why the column goes through
    * [[fingerprintOf]] instead of this sentinel). */
  def pcmFingerprint(b: Array[Byte], frames: Int): Long = {
    if (frames <= 0 || frames > 63 + 1) return Invalid
    val fp = fingerprintOf(b, frames)
    if (fp == null) Invalid else fp
  }

  /** [[pcmFingerprint]] with one chunk walk: null when the stream is
    * malformed or has under `frames` + 1 samples; boxed because every
    * 64-bit value is a valid fingerprint. */
  def fingerprintOf(b: Array[Byte], frames: Int): java.lang.Long = {
    val at = chunks(b)
    if (at < 0) return null
    val dataOff = at.toInt
    val nn = samples(b, dataOff)
    if (nn < frames + 1) return null
    if (frames <= 0 || frames > 63 + 1) return Invalid
    val e = new Array[Long](frames + 1)
    var i = 0
    while (i < nn) {
      val v = ((b(dataOff + 2 * i) & 0xFF) |
        (b(dataOff + 2 * i + 1) << 8)).toShort.toLong
      // Long frame index (r14 ADVICE): (frames+1)*i overflows Int32 at
      // ~33M samples — a valid hour-scale WAV — and the bmpAHash math
      // already uses .toLong for the same reason
      e((((frames + 1).toLong * i + frames) / nn).toInt) += v * v
      i += 1
    }
    var hash = 0L
    var f = 0
    while (f < frames) {
      if (e(f + 1) > e(f)) hash |= 1L << f
      f += 1
    }
    hash
  }

  /** The one chunk walk: for a well-formed stream (RIFF/WAVE magic, every
    * chunk inside the buffer, a PCM mono 16-bit `fmt ` with a positive
    * rate, a `data` chunk; the last of each chunk kind wins), the body
    * offsets of its `fmt ` and `data` chunks as `fmt << 32 | data`;
    * otherwise -1. */
  private def chunks(b: Array[Byte]): Long = {
    if (b == null || b.length < 12) return -1L
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return -1L
    var pos = 12
    var fmtOff = -1; var fmtOk = false
    var dataOff = -1
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      val body = pos + 8
      if (size < 0 || size > b.length - body) return -1L
      if (b(pos) == 'f' && b(pos + 1) == 'm' && b(pos + 2) == 't' &&
        b(pos + 3) == ' ') {
        if (size < 16) return -1L
        // PCM, mono, 16-bit — anything else is outside this walker's
        // contract (compressed WAV payloads need codecs)
        fmtOk = le16(b, body) == 1 && le16(b, body + 2) == 1 &&
          le16(b, body + 14) == 16
        fmtOff = body
      } else if (b(pos) == 'd' && b(pos + 1) == 'a' && b(pos + 2) == 't' &&
        b(pos + 3) == 'a') {
        dataOff = body
      }
      pos = body + size + (size & 1) // RIFF chunks pad to even
    }
    if (!fmtOk || le32(b, fmtOff + 4) <= 0 || dataOff < 0) -1L
    else (fmtOff.toLong << 32) | dataOff
  }

  /** Sample count of the `data` chunk whose body starts at `dataOff`. */
  private def samples(b: Array[Byte], dataOff: Int): Int = le32(b, dataOff - 4) / 2

  /** Chunk-walking PCM fold. Modes: 0 = sample count, 1 = sample rate,
    * 2 = energy Σv², 3 = peak max|v|, 4 = zero crossings, 5 = decimated
    * position-weighted checksum Σ_{i%k=0} (i/k+1)·v_i. [[Invalid]] on
    * malformed input (bad magic, truncated chunk, non-PCM/mono/16-bit,
    * or no data chunk). */
  def pcmWalk(b: Array[Byte], mode: Int, k: Int): Long = {
    if (k <= 0) return Invalid
    val at = chunks(b)
    if (at < 0) return Invalid
    val dataOff = at.toInt
    val n = samples(b, dataOff)
    if (mode == 0) return n.toLong
    if (mode == 1) return le32(b, (at >>> 32).toInt + 4).toLong
    var acc = 0L; var peak = 0L; var crossings = 0L
    var prevNeg = false
    var i = 0
    while (i < n) {
      val v = ((b(dataOff + 2 * i) & 0xFF) |
        (b(dataOff + 2 * i + 1) << 8)).toShort.toInt
      mode match {
        case 2 => acc += v.toLong * v
        case 3 => if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
        case 4 =>
          val neg = v < 0
          if (i > 0 && neg != prevNeg) crossings += 1
          prevNeg = neg
        case 5 => if (i % k == 0) acc += (i / k + 1).toLong * v
        case _ => return Invalid
      }
      i += 1
    }
    mode match {
      case 2 | 5 => acc
      case 3 => peak
      case 4 => crossings
      case _ => Invalid
    }
  }

  def build(seed: Column, rate: Column, n: Column): Column =
    ObjectCall.column("wav_build", this, "buildWav", BinaryType,
      Seq(seed, rate.cast("int"), n.cast("int")))
  def sampleCount(media: Column): Column = stat(media, 0, 1)
  def sampleRate(media: Column): Column = stat(media, 1, 1)
  def energy(media: Column): Column = stat(media, 2, 1)
  def peak(media: Column): Column = stat(media, 3, 1)
  def zeroCrossings(media: Column): Column = stat(media, 4, 1)
  def decimatedChecksum(media: Column, k: Int): Column = stat(media, 5, k)
  def buildFp(c: Column, rate: Column, n: Column, rendition: Int): Column = {
    require(rendition == 0 || rendition == 1, "rendition is 0 or 1")
    ObjectCall.column("wav_fp_build", this, "buildWavFp", BinaryType,
      Seq(c, rate.cast("int"), n.cast("int")), Seq(rendition))
  }
  def fingerprint(media: Column, frames: Int): Column = {
    require(frames > 0 && frames <= 64, "fingerprint must fit 64 bits")
    ObjectCall.column("pcm_fingerprint", this, "fingerprintOf", LongType,
      Seq(media), Seq(frames), boxed = true)
  }

  /** [[pcmWalk]]'s fold `mode`; its [[Invalid]] sentinel is NULL. */
  private def stat(media: Column, mode: Int, k: Int): Column =
    ObjectCall.column("pcm_stat", this, "pcmWalk", LongType, Seq(media),
      Seq(mode, k), nullOn = Some(Invalid))
}
