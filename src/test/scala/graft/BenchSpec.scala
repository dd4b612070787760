package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-diagnosis threshold: a query is `suspect` when its
  * FINAL (post-redo) time exceeds 3x its recorded prior AND 0.5s
  * absolute — the r11 q108 shape (12.87s vs a 0.17s prior under
  * sustained box contention) must flag; sub-second jitter and
  * queries without a prior must not. */
class BenchSpec extends AnyFunSuite {
  test("suspects flags >3x-prior over 0.5s, sorted; ignores jitter and new queries") {
    val prior = Map(
      "q108" -> 0.17, // the r11 contention victim
      "q_jitter" -> 0.05, // 10x but sub-0.5s absolute: jitter-class
      "q_slow" -> 4.0, // big but within 3x
      "q_edge" -> 0.2) // exactly 3x: not strict-greater
    val results = Seq(
      "q_new" -> 9.9, // no prior: never suspect
      "q108" -> 12.87,
      "q_jitter" -> 0.49,
      "q_slow" -> 11.9,
      "q_edge" -> 0.6,
      "a_also" -> 2.0)
    assert(Bench.suspects(results, prior) === Seq("q108"))
    assert(Bench.suspects(results :+ ("a_also2" -> 2.0),
      prior + ("a_also2" -> 0.1) + ("a_also" -> 0.1)) ===
      Seq("a_also", "a_also2", "q108"))
    assert(Bench.suspects(Nil, prior) === Nil)
    assert(Bench.suspects(results, Map.empty) === Nil)
  }

  /** The prior run's per-query map comes from the flat `"queries"`
    * object only; calibration and shared-build timings sit outside it. */
  test("queriesOf reads only the queries object of a bench line") {
    val line = """{"metric":"total","value":0.700,"unit":"sec","scheme":"min2redo","calibration_sec":4.350,"calibration":{"agg":1.100,"join":2.000,"window":1.250},"shared_build_sec":9.000,"shared_builds":{"dedup_pairs":9.000},"queries":{"q_a":0.500,"q_b":0.200},"patched":[],"sf":"/tmp/sfX"}"""
    assert(Bench.queriesOf(line) === Map("q_a" -> 0.5, "q_b" -> 0.2))
    intercept[IllegalArgumentException](Bench.queriesOf("""{"metric":"total"}"""))
  }

  /** r13 VERDICT task 3: the artifact itself carries the box-drift
    * adjudication a judge previously re-derived by hand each round. */
  test("vsPrior emits raw, calibration, and calibrated ratios over shared queries") {
    val results = Seq("q_a" -> 2.0, "q_b" -> 4.0, "q_new" -> 9.0)
    val prior = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_gone" -> 5.0)
    // raw = 6/3 = 2.0 on the shared {q_a,q_b}; calibration = 6/3 = 2.0
    // (pure box drift) → calibrated 1.0: the code didn't move
    val block = Bench.vsPrior(results, prior, calibSec = 6.0, priorCalibSec = 3.0)
    assert(block.contains(""""n_shared":2"""))
    assert(block.contains(""""raw_ratio":2.000"""))
    assert(block.contains(""""calibration_ratio":2.000"""))
    assert(block.contains(""""calibrated_ratio":1.000"""))
    // no prior / no overlap / no usable calibration → empty block
    assert(Bench.vsPrior(results, Map.empty, 6.0, 3.0) === "")
    assert(Bench.vsPrior(results, Map("x" -> 1.0), 6.0, 3.0) === "")
    assert(Bench.vsPrior(results, prior, 6.0, 0.0) === "")
    // failed queries (negative time) never enter the shared aggregate
    assert(Bench.vsPrior(Seq("q_a" -> -1.0), prior, 6.0, 3.0) === "")
  }

  /** r14 VERDICT task 3: the kernel-calibrated ratio published 1.386
    * for a same-code ~1.03x round (the prior artifact carried a
    * noise-inflated 3-probe kernel). The median of shared per-query
    * ratios is robust to both kernel noise and per-query spikes —
    * it is the number the narrative should read. */
  test("vsPrior emits median_query_ratio robust to kernel noise and spikes") {
    // three stable queries at ~1.0x plus one 10x spike; a naive mean or
    // kernel-calibrated total moves with the spike, the median doesn't
    val results = Seq("q_a" -> 1.0, "q_b" -> 2.1, "q_c" -> 2.9, "q_spike" -> 5.0)
    val prior = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 3.0, "q_spike" -> 0.5)
    // ratios sorted: 0.967, 1.0, 1.05, 10.0 → even-size median 1.025
    val block = Bench.vsPrior(results, prior, 3.0, 3.0)
    assert(block.contains(""""median_query_ratio":1.025"""))
    // odd count: median is the middle ratio, untouched by the spike
    val odd = Bench.vsPrior(results.take(3), prior, 3.0, 3.0)
    assert(odd.contains(""""median_query_ratio":1.000"""))
    // a zero-valued prior entry cannot divide; it is skipped, the block
    // still carries the median over the rest
    val withZero = Bench.vsPrior(Seq("q_a" -> 1.0, "q_z" -> 2.0),
      Map("q_a" -> 1.0, "q_z" -> 0.0), 3.0, 3.0)
    assert(withZero.contains(""""median_query_ratio":1.000"""))
  }
}
