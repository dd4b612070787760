package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DeltaSumState

/** ST6 on the real arbitrary-state API, fifth operator — the first
  * ORDER-DEPENDENT one: `transformWithState` deltaSum whose RocksDB
  * ValueState carries (n, acc, LAST VALUE) per user. Golden ≡ one-shot
  * `q92_delta_sum` on the real events table, cut into consecutive
  * time slices (the sorted-arrival contract), with a query KILL +
  * RESTART between slices, and with a batch that crashes after its
  * state commit and replays: the checkpointed last-value must seam the
  * fold across the boundary — a wrong or lost last_v4 shifts every
  * post-restart increase and cannot hash-match. */
class DeltaSumTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Ev = (Long, Timestamp, Long, Double)

  /** real events in global (ts, event_id) order, cut into 3 slices —
    * every event in slice i precedes slice i+1 (per-user order holds) */
  private lazy val slices: Seq[Seq[Ev]] = {
    val rows = Tables.events(spark, TestSpark.tiny)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value"))
      .withColumn("__rn",
        row_number().over(Window.orderBy(col("ts"), col("event_id"))))
      .orderBy("__rn")
      .collect()
    rows.grouped(rows.length / 3 + 1).toSeq.map(_.toSeq.map(r =>
      (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))))
  }

  private def twin(in: org.apache.spark.sql.Dataset[Ev]) =
    DeltaSumState.deltaSum(in.toDF("user_id", "ts", "event_id", "value"))

  /** latest (n, acc4) per user → the q92 relation */
  private def q92Rows(snap: Map[Long, (Long, Long)]) = snap.toSeq
    .map { case (u, (n, acc)) => (u, n, acc.toDouble / 10000.0) }.toSet

  private def oneShot() = graft.operators.EventAnalytics4.q92DeltaSum
    .run(spark, TestSpark.tiny)
    .as[(Long, Long, Double)].collect().toSet

  test("transformWithState deltaSum seams the ordered fold across a restart") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ds_tws_ckpt").toString
    val in = MemoryStream[Ev]
    @volatile var snap = Map.empty[Long, (Long, Long)]
    def start() = twin(in.toDS())
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
          b.collect().foreach { case (u, n, acc) => snap += u -> (n, acc) }
      }
      .option("checkpointLocation", ckpt)
      .start()

    TestSpark.withRocksDbState {
      val q1 = start()
      in.addData(slices(0): _*)
      q1.processAllAvailable()
      in.addData(slices(1): _*)
      q1.processAllAvailable()
      q1.stop() // kill mid-stream; (n, acc, last_v4) is checkpointed

      val q2 = start() // restart: the fold must resume from last_v4
      in.addData(slices(2): _*)
      q2.processAllAvailable()
      q2.stop()
    }

    assert(q92Rows(snap) === oneShot(),
      "ordered fold across kill/restart must equal the one-shot q92")
    // the boundary term must actually fire somewhere, or the golden
    // only tested slice-internal sums: fold each slice on its own
    val internalOnly = slices.flatMap(_.groupBy(_._1).map { case (u, es) =>
      val v4 = es.sortBy(e => (e._2.getTime, e._2.getNanos, e._3))
        .map(e => math.floor(e._4 * 10000.0 + 0.5).toLong)
      u -> v4.zip(v4.drop(1)).map { case (a, b) => math.max(0L, b - a) }.sum
    }).groupMapReduce(_._1)(_._2)(_ + _)
    assert(snap.exists { case (u, (_, acc)) => acc != internalOnly(u) },
      "no cross-slice step contributed to any user's deltaSum")
  }

  test("a crashed batch replays against the state it first saw; " +
    "the ordered fold still equals the one-shot q92") {
    val emitted = CrashReplay.run(slices)(twin)
    assert(q92Rows(emitted.map { case (u, n, acc) => u -> (n, acc) }.toMap)
      === oneShot())
  }
}
