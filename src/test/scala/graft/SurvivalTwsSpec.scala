package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SurvivalState

/** ST6 on the real arbitrary-state API, third operator: the
  * `transformWithState` Kaplan–Meier per-user (min signup, min
  * purchase, max ts) semilattice with RocksDB-backed `ValueState` —
  * golden ≡ one-shot across a query KILL + RESTART from the same
  * checkpoint, with DUPLICATE USERS' rows re-delivered in batches
  * spanning the restart boundary: a (min, min, max) join-semilattice
  * absorbs both replay and cross-batch duplicate delivery (the HLL
  * twin's contract, stronger than the count-monoid quantile twin) —
  * and ≡ the registered `q143_survival_km` across a crashed-and-replayed
  * batch. */
class SurvivalTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Base = 1704067200000000L // 2024-01-01T00:00Z in µs
  private val Day = 86400000000L
  private val Min = 60000000L

  private def toEvents(df: DataFrame): DataFrame = df
    .toDF("user_id", "event_type", "us")
    .select(col("user_id"), col("event_type"),
      timestamp_micros(col("us")).as("ts"))

  /** latest per-user (s, p, t) state → the factored estimator's three
    * input relations → the KM curve */
  private def curve(snap: Map[Long, (Long, Long, Long)]): DataFrame = {
    val rows = snap.toSeq.map { case (u, (s, p, t)) => (u, s, p, t) }
      .toDF("user_id", "s", "p", "t")
    val su = rows.filter(col("s") =!= SurvivalState.NoMin)
      .select(col("user_id"), timestamp_micros(col("s")).as("s_ts"))
    val pu = rows.filter(col("p") =!= SurvivalState.NoMin)
      .select(col("user_id"), timestamp_micros(col("p")).as("p_ts"))
    val mx = rows.agg(max(timestamp_micros(col("t"))).as("m_ts"))
    graft.operators.EventAnalytics14.survivalFromState(su, pu, mx)
  }

  test("transformWithState survival state survives restart; curve ≡ one-shot") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("surv_tws_ckpt").toString
    val in = MemoryStream[(Long, String, Long)]
    // Update-mode emission: one merged (s, p, t) snapshot per updated
    // user per batch; keep the latest per user
    @volatile var snap = Map.empty[Long, (Long, Long, Long)]
    def start() = SurvivalState.survivalState(toEvents(in.toDF))
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)], _: Long) =>
          b.collect().foreach { case (u, s, p, t) => snap += u -> ((s, p, t)) }
      }
      .option("checkpointLocation", ckpt)
      .start()

    // users 1–40 sign up across ~3 cohort weeks; every third user
    // purchases later (durations vary), the rest are right-censored by
    // the global max ts; user 41 has a purchase BEFORE signup (the
    // estimator's own filter must drop it identically on both routes)
    val signups = (1L to 40L).map(u => (u, "signup", Base + (u % 20) * Day))
    val purchases = (1L to 40L).filter(_ % 3 == 0)
      .map(u => (u, "purchase", Base + (u % 20) * Day + u * 7 * Min))
    val noise = (1L to 40L).map(u => (u, "view", Base + 25 * Day + u * Min))
    val bad = Seq((41L, "purchase", Base), (41L, "signup", Base + 3 * Day))
    val batch1 = signups.take(25) ++ purchases.take(8) ++ noise.take(20) ++ bad
    // batch2 re-delivers a verbatim slice of batch1 ACROSS the restart
    // boundary (dup users AND dup rows), plus the remaining originals
    // and users first seen after the restart
    val batch2 = batch1.take(15) ++ signups.drop(25) ++ purchases.drop(8) ++
      noise.drop(20) ++ Seq((42L, "signup", Base + 16 * Day),
        (42L, "purchase", Base + 16 * Day + 90 * Min))
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

    val streamed = curve(snap).collect().map(_.toSeq).toSeq

    // one-shot: the q143 head over ALL arrivals (duplicates included —
    // min/min/max absorbs them, exactly like the stream must)
    val all = toEvents((batch1 ++ batch2).toDF("user_id", "event_type", "us"))
    val su1 = all.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu1 = all.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    val mx1 = all.agg(max("ts").as("m_ts"))
    val oneShot = graft.operators.EventAnalytics14
      .survivalFromState(su1, pu1, mx1).collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty, "the synthetic corpus must produce KM rows")
    assert(snap.contains(42L) && snap.contains(40L),
      "post-restart users and late originals must be in state")
    assert(streamed === oneShot,
      "restart + cross-boundary duplicate users must fold to the one-shot curve")
  }

  test("a crashed batch replays without moving the curve; curve ≡ the " +
    "registered q143 on the tiny corpus, shuffled and redelivered") {
    def key(df: DataFrame) =
      df.select("cohort_week", "t_min", "n_risk", "d_events", "log_surv")
        .collect().map(r => (r.getDate(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    // slices by event_id mod 3 — deliberately NOT time slices, and
    // deliberately splitting single users across batches — with batch 0
    // re-delivered inside batch 2: the semilattice contract says neither
    // order, grouping nor duplicate delivery may matter
    val ev = Tables.events(spark, TestSpark.tiny)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, String, Long, Long)].collect().toSeq
    val s = (0 until 3).map(i =>
      ev.filter(_._4 % 3 == i).map(e => (e._1, e._2, e._3)))
    val emitted = CrashReplay.run(Seq(s(0), s(1), s(2) ++ s(0)))(ds =>
      SurvivalState.survivalState(toEvents(ds.toDF)))
    val snap = emitted.map { case (u, sv, p, t) => u -> ((sv, p, t)) }.toMap
    val streamed = key(curve(snap))
    assert(streamed.nonEmpty, "the tiny corpus must produce KM rows")
    assert(streamed === key(graft.operators.EventAnalytics14.q143SurvivalKm
      .run(spark, TestSpark.tiny)))
  }
}
