package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventAnalytics12.{hllEstimate, hllRanks}
import graft.streaming.HllState

/** ST6 on the real arbitrary-state API: `transformWithState` HLL sketch
  * with RocksDB-backed keyed state — golden ≡ one-shot across a query
  * KILL + RESTART from the same checkpoint, with duplicate delivery
  * spanning the restart boundary, and ≡ the registered
  * `q136_hll_portable` across a crashed-and-replayed batch, on a
  * tiny-corpus variant whose event types have distinct user sets. */
class HllTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Est = (String, Long, Long, Double)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Est] =
    df.select("event_type", "v_empty", "s_fix", "est")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet

  /** streamed register snapshots → the one-shot estimator tail */
  private def estimate(snap: Map[String, Array[Byte]]): Set[Est] = {
    val streamed = snap.toSeq
      .flatMap { case (k, regs) =>
        regs.zipWithIndex.collect {
          case (m, b) if m > 0 => (k, b.toLong, m.toInt)
        }
      }
      .toDF("event_type", "bucket", "mj")
    rows(hllEstimate(streamed, snap.keySet.toSeq.toDF("event_type")))
  }

  test("transformWithState HLL survives restart; final state ≡ one-shot") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("hll_tws_ckpt").toString
    val in = MemoryStream[(String, Long)]
    @volatile var snap = Map.empty[String, Array[Byte]]
    def start() = HllState
      .hllSketch(in.toDF.toDF("event_type", "user_id"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, Array[Byte])], _: Long) =>
        // Update-mode emission: merge each batch's per-key snapshots
        // over the running map, so `snap` always holds the latest
        batch.collect().foreach { case (k, r) => snap += k -> r }
      }
      .option("checkpointLocation", ckpt)
      .start()

    val batch1 = (1L to 400L).map(u => ("view", u)) ++
      (1L to 150L).map(u => ("purchase", u))
    val batch2 = (200L to 600L).map(u => ("view", u)) ++ // 200–400 are dups
      (100L to 260L).map(u => ("purchase", u)) ++ // 100–150 are dups
      (1L to 90L).map(u => ("click", u)) // key first seen after restart
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

    // one-shot estimator over ALL distinct arrivals (duplicates folded)
    val all = (batch1 ++ batch2).toDF("event_type", "user_id")
    val oneShotRegs = hllRanks(all)
      .groupBy("event_type", "bucket").agg(max("rank").as("mj"))
    val expected = rows(hllEstimate(oneShotRegs,
      all.select("event_type").distinct()))

    // streaming state → the same estimator tail
    assert(snap.keySet === Set("view", "purchase", "click"))
    assert(estimate(snap) === expected,
      "restart + duplicate delivery must fold to the one-shot registers")
  }

  test("a crashed batch replays without moving the registers; state ≡ " +
    "the registered q136 on the tiny corpus, shuffled and redelivered") {
    // every tiny-corpus user has events of every type, so all types
    // share one register set and a twin that swapped registers between
    // keys would still match: drop a pseudo-random third of the
    // (type, user) pairs, so each type has its own user set
    val dir = java.nio.file.Files.createTempDirectory("hll_tiny").toString
    Tables.table(spark, TestSpark.tiny, "events")
      .filter(pmod(xxhash64(col("event_type"), col("user_id")), lit(3)) =!= 0)
      .write.parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
      .select("event_type", "user_id").as[(String, Long)].collect().toSeq
    val userSets = ev.groupBy(_._1).values.map(_.map(_._2).toSet).toSeq
    assert(userSets.size > 1 && userSets.distinct.size == userSets.size,
      "every event type must have its own user set")
    // slices by user_id mod 3 — deliberately NOT time slices — and
    // batch 0 re-delivered inside batch 2: the semilattice contract says
    // neither arrival order nor duplicate delivery may matter
    val s = (0 until 3).map(i => ev.filter(_._2 % 3 == i))
    val emitted = CrashReplay.run(Seq(s(0), s(1), s(2) ++ s(0)))(ds =>
      HllState.hllSketch(ds.toDF("event_type", "user_id")))
    assert(estimate(emitted.toMap) === rows(
      graft.operators.EventAnalytics12.q136HllPortable.run(spark, dir)))
  }
}
