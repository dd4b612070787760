package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PcmSamples

/** PCM sample walker (WAV): reference-formula equality, chunk-walking
  * honesty (the filler chunk, extra chunks the builder never emits,
  * even-padding), malformed-input NULLs, and whole-stage-codegen
  * placement. */
class PcmSamplesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refSample(seed: Long, i: Int): Int =
    (((seed * 31 + i.toLong * 37) % 65536) - 32768).toInt

  private def refStats(seed: Long, n: Int, k: Int): (Long, Long, Long, Long) = {
    var energy = 0L; var peak = 0L; var cross = 0L; var decim = 0L
    for (i <- 0 until n) {
      val v = refSample(seed, i)
      energy += v.toLong * v
      peak = math.max(peak, math.abs(v.toLong))
      if (i > 0 && (v < 0) != (refSample(seed, i - 1) < 0)) cross += 1
      if (i % k == 0) decim += (i / k + 1).toLong * v
    }
    (energy, peak, cross, decim)
  }

  test("built WAVs walk back to the generating formulas") {
    for (seed <- Seq(0L, 1L, 41L, 999L); n <- Seq(1, 7, 400, 881)) {
      val b = PcmSamples.buildWav(seed, 16000, n)
      val (e, p, c, d) = refStats(seed, n, 4)
      assert(PcmSamples.pcmWalk(b, 0, 1) === n.toLong, s"count seed=$seed")
      assert(PcmSamples.pcmWalk(b, 1, 1) === 16000L, s"rate seed=$seed")
      assert(PcmSamples.pcmWalk(b, 2, 1) === e, s"energy seed=$seed n=$n")
      assert(PcmSamples.pcmWalk(b, 3, 1) === p, s"peak seed=$seed n=$n")
      assert(PcmSamples.pcmWalk(b, 4, 1) === c, s"cross seed=$seed n=$n")
      assert(PcmSamples.pcmWalk(b, 5, 4) === d, s"decim seed=$seed n=$n")
    }
  }

  test("walker is chunk-order honest: data before fmt, extra chunks, " +
    "even-padding after an odd chunk") {
    // hand-build: fmt AFTER data, an extra odd-sized "cue " chunk whose
    // body would parse as plausible samples if the walker mis-skipped
    val samples = Seq[Int](1000, -1000, 500)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def tag(t: String): Unit = buf ++= t.getBytes("US-ASCII")
    def le32(v: Int): Unit = { buf += v.toByte; buf += (v >> 8).toByte
      buf += (v >> 16).toByte; buf += (v >> 24).toByte }
    def le16(v: Int): Unit = { buf += v.toByte; buf += (v >> 8).toByte }
    tag("RIFF"); le32(0); tag("WAVE") // size patched below
    tag("cue "); le32(3); buf += 0x7F; buf += 0x7F; buf += 0x7F
    buf += 0x00 // pad: odd chunk rounds up to even
    tag("data"); le32(2 * samples.length)
    samples.foreach(le16)
    tag("fmt "); le32(16)
    le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
    val b = buf.toArray
    b(4) = (b.length - 8).toByte // single-byte size is enough here
    assert(PcmSamples.pcmWalk(b, 0, 1) === 3L)
    assert(PcmSamples.pcmWalk(b, 1, 1) === 8000L)
    assert(PcmSamples.pcmWalk(b, 2, 1) === 1000L * 1000 + 1000L * 1000 + 500L * 500)
    assert(PcmSamples.pcmWalk(b, 3, 1) === 1000L)
    assert(PcmSamples.pcmWalk(b, 4, 1) === 2L) // + - +
    assert(PcmSamples.pcmWalk(b, 5, 2) === 1L * 1000 + 2L * 500)
  }

  test("malformed WAVs yield NULL (sentinel), not garbage") {
    val good = PcmSamples.buildWav(7L, 8000, 10)
    val truncated = good.take(30)           // data chunk cut mid-declared-size
    val notWav = "RIFFxxxxJUNK".getBytes
    // stereo: flip the channel-count field
    val stereo = good.clone(); stereo(22) = 2
    // 8-bit: flip bits-per-sample
    val eightBit = good.clone(); eightBit(34) = 8
    val rows = Seq(good, truncated, notWav, stereo, eightBit).toDF("media")
      .select(PcmSamples.energy(col("media")).as("s"))
      .as[Option[Long]].collect()
    assert(rows(0).isDefined)
    assert(rows(1).isEmpty)
    assert(rows(2).isEmpty)
    assert(rows(3).isEmpty)
    assert(rows(4).isEmpty)
  }

  test("fixed-offset-44 parsing would read the filler as audio " +
    "(the LIST chunk is load-bearing)") {
    val b = PcmSamples.buildWav(3L, 8000, 5)
    // bytes at 44.. are the filler ("INFO" + junk), not samples: a
    // naive parser's first "sample" would be 'I'|'N'<<8, which is not
    // the formula's sample 0
    val naive = ((b(44) & 0xFF) | (b(45) << 8)).toShort.toInt
    assert(naive !== refSample(3L, 0))
    // the walker, which skips to the data chunk, gets sample 0 right:
    // decimation at k > n isolates sample 0 with weight 1
    assert(PcmSamples.pcmWalk(b, 5, 100) === refSample(3L, 0).toLong)
  }

  /** WAVs the walkers must keep answering the same way: valid streams,
    * streams shorter than a fingerprint's frames + 1, and malformed ones. */
  private def goldenInputs: Seq[(String, Array[Byte])] = {
    def putLe32(b: Array[Byte], i: Int, v: Int): Array[Byte] = {
      b(i) = v.toByte; b(i + 1) = (v >> 8).toByte
      b(i + 2) = (v >> 16).toByte; b(i + 3) = (v >> 24).toByte
      b
    }
    def edit(b: Array[Byte])(f: Array[Byte] => Unit): Array[Byte] = {
      val c = b.clone(); f(c); c
    }
    val good = PcmSamples.buildWavFp(42L, 8000, 300, 0)
    val dataOff = 50 // RIFF header + fmt + padded LIST filler
    val secondData = putLe32(
      "data".getBytes ++ new Array[Byte](4) ++ PcmSamples.buildWav(11L, 8000, 70).drop(58),
      4, 140)
    Seq(
      "fp c=1 n=65 r=0" -> PcmSamples.buildWavFp(1L, 8000, 65, 0),
      "fp c=1 n=65 r=1" -> PcmSamples.buildWavFp(1L, 8000, 65, 1),
      "fp c=42 n=1000 r=0" -> PcmSamples.buildWavFp(42L, 8000, 1000, 0),
      "fp c=42 n=1000 r=1" -> PcmSamples.buildWavFp(42L, 8000, 1000, 1),
      "fp c=123456789 n=4096 r=0" -> PcmSamples.buildWavFp(123456789L, 8000, 4096, 0),
      "fp c=7 n=257 r=1" -> PcmSamples.buildWavFp(7L, 8000, 257, 1),
      "ramp seed=9 n=500" -> PcmSamples.buildWav(9L, 16000, 500),
      "short n=10" -> PcmSamples.buildWavFp(1L, 8000, 10, 0),
      "short n=64" -> PcmSamples.buildWavFp(5L, 8000, 64, 0),
      "empty data chunk" -> PcmSamples.buildWav(3L, 8000, 0),
      "odd data size" -> edit(good)(b => putLe32(b, dataOff + 4, 599)).dropRight(1),
      "trailing bytes" -> (good ++ Array[Byte](1, 2, 3, 4, 5)),
      "second data chunk wins" -> (good ++ secondData),
      "null" -> null,
      "no bytes" -> Array.emptyByteArray,
      "11 bytes" -> good.take(11),
      "RIFX magic" -> edit(good)(_(3) = 'X'),
      "WAVF form" -> edit(good)(_(11) = 'F'),
      "truncated data" -> good.dropRight(1),
      "fmt size 15" -> edit(good)(b => putLe32(b, 16, 15)),
      "float format" -> edit(good)(_(20) = 3),
      "stereo" -> edit(good)(_(22) = 2),
      "8-bit" -> edit(good)(_(34) = 8),
      "rate 0" -> edit(good)(b => putLe32(b, 24, 0)),
      "no data chunk" -> good.take(dataOff),
      "negative chunk size" -> edit(good)(b => putLe32(b, 40, -1)))
  }

  /** Every walker output for one input: the boxed fingerprint at 64, 8,
    * 1 and 0 frames, the sentinel fingerprint at 64, 0 and 65 frames,
    * then `pcmWalk` modes 0-6 at k = 3 and mode 5 at k = 0. */
  private def outputs(b: Array[Byte]): String = {
    def show(v: Long) = if (v == PcmSamples.Invalid) "Invalid" else v.toString
    (Seq(64, 8, 1, 0).map(f => Option(PcmSamples.fingerprintOf(b, f)).fold("null")(show(_))) ++
      Seq(64, 0, 65).map(f => show(PcmSamples.pcmFingerprint(b, f))) ++
      (0 to 6).map(m => show(PcmSamples.pcmWalk(b, m, 3))) :+
      show(PcmSamples.pcmWalk(b, 5, 0))).mkString(" ")
  }

  /** [[outputs]] of each [[goldenInputs]] entry, as the three-walk
    * fingerprint (validity walk, fingerprint walk, data re-scan)
    * computed them. */
  private val golden: Map[String, String] = Map(
    "fp c=1 n=65 r=0" ->
      "-3867942773908089655 69 1 Invalid -3867942773908089655 Invalid Invalid 65 8000 23140603556 32674 32 56380 Invalid Invalid",
    "fp c=1 n=65 r=1" ->
      "-3867942773908089655 69 1 Invalid -3867942773908089655 Invalid Invalid 65 8000 5817829145 16241 32 32709 Invalid Invalid",
    "fp c=42 n=1000 r=0" ->
      "7109140238977101270 163 0 Invalid 7109140238977101270 Invalid Invalid 1000 8000 356797637616 32732 501 28615260 Invalid Invalid",
    "fp c=42 n=1000 r=1" ->
      "7109122646791056854 163 0 Invalid 7109122646791056854 Invalid Invalid 1000 8000 89237681366 16486 501 14363465 Invalid Invalid",
    "fp c=123456789 n=4096 r=0" ->
      "6045613204662670451 146 1 Invalid 6045613204662670451 Invalid Invalid 4096 8000 1466822582272 32752 1996 9075468 Invalid Invalid",
    "fp c=7 n=257 r=1" ->
      "-7103463398873584843 89 1 Invalid -7103463398873584843 Invalid Invalid 257 8000 22709624921 16495 129 1415381 Invalid Invalid",
    "ramp seed=9 n=500" ->
      "2634927428426342985 0 0 Invalid 2634927428426342985 Invalid Invalid 500 16000 284716012750 32489 0 -283435740 Invalid Invalid",
    "short n=10" ->
      "null 201 1 Invalid Invalid Invalid Invalid 10 8000 3057267652 32674 4 37926 Invalid Invalid",
    "short n=64" ->
      "null 205 1 Invalid Invalid Invalid Invalid 64 8000 23164596352 31520 32 344956 Invalid Invalid",
    "empty data chunk" ->
      "null null null null Invalid Invalid Invalid 0 8000 0 0 0 0 Invalid Invalid",
    "odd data size" ->
      "-5321949270741166411 155 1 Invalid -5321949270741166411 Invalid Invalid 299 8000 107906873732 32574 147 18065490 Invalid Invalid",
    "trailing bytes" ->
      "-5016268549705513291 219 1 Invalid -5016268549705513291 Invalid Invalid 300 8000 108413033736 32574 148 18065490 Invalid Invalid",
    "second data chunk wins" ->
      "-9222245999492200448 17 0 Invalid -9222245999492200448 Invalid Invalid 70 8000 67963878115 32427 0 -9217500 Invalid Invalid",
    "null" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "no bytes" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "11 bytes" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "RIFX magic" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "WAVF form" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "truncated data" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "fmt size 15" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "float format" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "stereo" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "8-bit" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "rate 0" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "no data chunk" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid",
    "negative chunk size" ->
      "null null null null Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid Invalid")

  test("walker outputs over valid, short and malformed WAVs match the golden") {
    val got = goldenInputs.map { case (name, b) => name -> outputs(b) }
    assert(got.map(_._1).toSet === golden.keySet)
    for ((name, o) <- got) assert(o === golden(name), name)
  }

  test("pcm expressions run inside whole-stage codegen") {
    val df = spark.range(1, 2).toDF("seed")
      .select(PcmSamples.energy(
        PcmSamples.build(col("seed"), lit(8000), lit(11))).as("e"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(df.as[Long].head() === refStats(1L, 11, 4)._1)
  }
}
