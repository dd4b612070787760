package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.QuantileState

/** ST6 on the real arbitrary-state API, second operator: the
  * `transformWithState` quantile value-count sketch with RocksDB-backed
  * keyed `MapState` — golden ≡ one-shot across a query KILL + RESTART
  * from the same checkpoint, with duplicate VALUES delivered in batches
  * spanning the restart boundary (a count monoid counts them exactly as
  * the one-shot over the concatenated arrivals does), and ≡ the
  * registered `q137_quantile_sketch` across a crashed-and-replayed
  * batch, where a state version that is not rolled back double-counts. */
class QuantileTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tail(vc: org.apache.spark.sql.DataFrame) =
    graft.operators.EventAnalytics13.quantileFromValueCounts(spark, vc)

  test("transformWithState quantile sketch survives restart; state ≡ one-shot") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("qtl_tws_ckpt").toString
    val in = MemoryStream[(String, Double)]
    // Update-mode emission: per batch each updated key emits only its
    // UPDATED (v4 → new total) entries (O(delta), not O(state)); the
    // latest emission per (key, v4) is that pair's final count
    @volatile var snap = Map.empty[(String, Long), Long]
    def start() = QuantileState
      .quantileSketch(in.toDF.toDF("event_type", "value"))
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) =>
          batch.collect().foreach { case (k, v4, c) => snap += (k, v4) -> c }
      }
      .option("checkpointLocation", ckpt)
      .start()

    // values straddle the fixed-point rounding and repeat across batches
    val batch1 = (1 to 300).map(i => ("view", (i % 97) * 0.37)) ++
      (1 to 120).map(i => ("purchase", (i % 31) * 1.115))
    val batch2 = (1 to 250).map(i => ("view", (i % 97) * 0.37)) ++ // dups of batch1 values
      (1 to 80).map(i => ("purchase", 17.0 + (i % 13) * 0.005)) ++
      (1 to 60).map(i => ("click", i * 0.25)) // key first seen after restart
    TestSpark.withRocksDbState {
      val q1 = start()
      in.addData(batch1: _*)
      q1.processAllAvailable()
      q1.stop() // kill between batches; offsets + RocksDB state checkpointed

      val q2 = start() // restart from the same checkpoint
      in.addData(batch2: _*)
      q2.processAllAvailable()
      q2.stop()
    }

    // one-shot: the q137 pipeline head over ALL arrivals (dups counted)
    val all = (batch1 ++ batch2).toDF("event_type", "value")
    val oneShotVc = all
      .select(col("event_type"),
        floor(col("value") * 10000.0 + 0.5).cast("long").as("v4"))
      .groupBy("event_type", "v4").agg(count(lit(1)).as("c"))

    assert(snap.keys.map(_._1).toSet === Set("view", "purchase", "click"))
    val streamedVc = snap.toSeq
      .map { case ((k, v4), c) => (k, v4, c) }
      .toDF("event_type", "v4", "c")

    // raw state must match row-for-row…
    val expectedRows = oneShotVc.as[(String, Long, Long)].collect().toSet
    val gotRows = streamedVc.as[(String, Long, Long)].collect().toSet
    assert(gotRows === expectedRows,
      "restart + cross-boundary duplicate values must sum to the one-shot counts")

    // …and the IDENTICAL factored estimator tail must agree end-to-end
    assert(tail(streamedVc).collect().map(_.toSeq).toSeq ===
      tail(oneShotVc).collect().map(_.toSeq).toSeq)
  }

  test("a crashed batch replays without double-counting; sketch ≡ the " +
    "registered q137 on the tiny corpus, shuffled arrival") {
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "pct", "n", "exact_v", "est_v", "err")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    // slices by user_id mod 3 — deliberately NOT time slices: the
    // monoid contract says arrival order must not matter
    val ev = Tables.events(spark, TestSpark.tiny)
      .select("event_type", "value", "user_id")
      .as[(String, Double, Long)].collect().toSeq
    val slices = (0 until 3).map(i =>
      ev.filter(_._3 % 3 == i).map(e => (e._1, e._2)))
    val emitted = CrashReplay.run(slices)(ds =>
      QuantileState.quantileSketch(ds.toDF("event_type", "value")))
    val vc = emitted.map { case (k, v4, c) => (k, v4) -> c }.toMap.toSeq
      .map { case ((k, v4), c) => (k, v4, c) }
      .toDF("event_type", "v4", "c")
    assert(key(tail(vc)) === key(graft.operators.EventAnalytics13
      .q137QuantileSketch.run(spark, TestSpark.tiny)),
      "a replayed batch must count once")
  }
}
