package graft

import java.sql.Timestamp

import org.apache.spark.JobsDuring
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** ST1–ST6 against MemoryStream (no broker in this environment;
  * SURVEY.md §5.3) — watermark windows, late-data drop, stream dedup,
  * keyed state, and the foreachBatch upsert sink. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling window drops data later than the watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.windowedCounts(
      in.toDF.toDF("ts", "event_type", "value"), "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      // batch 1: one event at 10:00, one at 10:30 → watermark ≈ 10:20
      in.addData((ts("2024-01-01 10:00:00"), "a", 1.0),
        (ts("2024-01-01 10:30:00"), "a", 1.0))
      q.processAllAvailable()
      // batch 2: late event inside the already-passed 10:00 window → dropped
      in.addData((ts("2024-01-01 10:01:00"), "a", 1.0))
      q.processAllAvailable()
      // batch 3: advance watermark far enough to finalize everything
      in.addData((ts("2024-01-01 11:30:00"), "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("win_start").cast("string"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(rows("2024-01-01 10:00:00") === 1L) // late row NOT counted
      assert(rows("2024-01-01 10:30:00") === 1L)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark collapses redelivered events") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val out = Streams.dedupWithinWatermark(
      in.toDF.toDF("event_id", "ts", "value"), "ts", "10 minutes",
      Seq("event_id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData((1L, ts("2024-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      // same event redelivered in a later micro-batch
      in.addData((1L, ts("2024-01-01 10:00:00"), 5.0),
        (2L, ts("2024-01-01 10:01:00"), 6.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect()
      assert(ids.sorted === Array(1L, 2L))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog and stops (S4 micro-batching)") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val in = MemoryStream[(Long, Double)]
    in.addData((1L, 2.0), (2L, 3.0), (1L, 5.0))
    val q = in.toDF.toDF("user_id", "value")
      .groupBy("user_id").agg(sum("value").as("total"))
      .writeStream.outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .format("memory").queryName("avail_out").start()
    try {
      // AvailableNow processes everything queued, then terminates itself
      assert(q.awaitTermination(60000), "query did not self-terminate")
      val got = spark.table("avail_out").as[(Long, Double)].collect().toMap
      assert(got === Map(1L -> 7.0, 2L -> 3.0))
    } finally q.stop()
  }

  test("stream-stream join matches purchases to in-window signups") {
    implicit val ctx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = Streams.purchasesWithSignup(
      signups.toDF.toDF("user_id", "ts"),
      purchases.toDF.toDF("user_id", "ts", "value"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      signups.addData((1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:30:00"), 9.0), // in window (30 min after)
        (2L, ts("2024-01-01 12:30:00"), 7.0), // too late (>1h)
        (3L, ts("2024-01-01 10:10:00"), 5.0)) // no signup
      q.processAllAvailable()
      val got = spark.table("ssj_out").select("user_id", "value")
        .as[(Long, Double)].collect().toSet
      assert(got === Set((1L, 9.0)))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dim and keeps unmatched events") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = Streams.enrichWithDim(
      in.toDF.toDF("user_id", "value"), dim, "user_id")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      in.addData((1L, 10.0), (3L, 5.0))
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("user_id", "tier").as[(Long, Option[String])]
        .collect().toSet
      assert(got === Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("outer stream-stream join emits unmatched purchases after watermark") {
    implicit val ctx = spark.sqlContext
    val signups = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = Streams.purchasesWithSignupOuter(
      signups.toDF.toDF("user_id", "ts"),
      purchases.toDF.toDF("user_id", "ts", "value"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjo_out").start()
    try {
      signups.addData((1L, ts("2024-01-01 10:00:00")))
      purchases.addData(
        (1L, ts("2024-01-01 10:30:00"), 9.0), // matched
        (3L, ts("2024-01-01 10:10:00"), 5.0)) // no signup → null-padded later
      q.processAllAvailable()
      // matched row is emitted immediately; the unmatched one only after
      // the watermark proves no signup can still arrive for it
      val early = spark.table("ssjo_out")
        .select("user_id").as[Long].collect().toSet
      assert(early.contains(1L))
      // advance both watermarks far past 10:10 + interval + delay
      signups.addData((99L, ts("2024-01-01 13:00:00")))
      purchases.addData((99L, ts("2024-01-01 13:00:00"), 1.0))
      q.processAllAvailable()
      purchases.addData((98L, ts("2024-01-01 13:00:01"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssjo_out")
        .select("user_id", "signup_ts").collect()
      val u3 = rows.filter(_.getLong(0) == 3L)
      assert(u3.nonEmpty, s"unmatched purchase never emitted: ${rows.mkString}")
      assert(u3.forall(_.isNullAt(1)))
    } finally q.stop()
  }

  test("transformWithState sessionizer closes sessions on event-time timeout") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Streams.UserEvent2]
    val out = Streams.sessionizeTransformWithState(in.toDS(), gapMs = 60000L)
    TestSpark.withRocksDbState {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName("sess_tws_out").start()
      try {
        // user 1: two events 30s apart (same session, gap 60s)
        in.addData(
          Streams.UserEvent2(1L, ts("2024-01-01 10:00:00"), 1.0),
          Streams.UserEvent2(1L, ts("2024-01-01 10:00:30"), 2.0))
        q.processAllAvailable()
        assert(spark.table("sess_tws_out").isEmpty) // session still open
        // much later event from ANOTHER user advances the watermark past
        // user 1's last event + gap …
        in.addData(Streams.UserEvent2(2L, ts("2024-01-01 11:00:00"), 3.0))
        q.processAllAvailable()
        // … and the event-time timer fires on the following trigger
        in.addData(Streams.UserEvent2(2L, ts("2024-01-01 11:00:01"), 4.0))
        q.processAllAvailable()
        val got = spark.table("sess_tws_out").as[Streams.ClosedSession].collect()
        assert(got.map(_.user_id).toSet === Set(1L))
        assert(got.head.n_events === 2L)
        assert(got.head.session_start === ts("2024-01-01 10:00:00"))
        assert(got.head.session_end === ts("2024-01-01 10:01:30")) // last + gap
      } finally q.stop()
    }
  }

  test("sessionizers split intra-batch gaps, merge stragglers, and " +
    "bridge sessions on admissible out-of-order events (both impls)") {
    implicit val ctx = spark.sqlContext
    // merge unit: intra-batch split + below-start straggler singleton
    val m1 = Streams.mergeIntervals(Nil, Seq(1000L, 30000L, 200000L), 60000L)
    assert(m1.map(s => (s.startMs, s.lastMs, s.n)) ===
      List((1000L, 30000L, 2L), (200000L, 200000L, 1L)))
    // a straggler below an existing session stays its own interval …
    val m2 = Streams.mergeIntervals(
      Seq(Streams.SessionAcc(500000L, 520000L, 3L)), Seq(100000L), 60000L)
    assert(m2.map(s => (s.startMs, s.n)) === List((100000L, 1L), (500000L, 3L)))
    // … two stragglers within gap of each other merge (r04 advice) …
    val m3 = Streams.mergeIntervals(
      Seq(Streams.SessionAcc(500000L, 520000L, 3L)),
      Seq(100000L, 130000L), 60000L)
    assert(m3.map(s => (s.startMs, s.lastMs, s.n)) ===
      List((100000L, 130000L, 2L), (500000L, 520000L, 3L)))
    // … and an event between two sessions, within gap of both, BRIDGES
    // them into one (the single-open-tail fold got this wrong)
    val m4 = Streams.mergeIntervals(
      Seq(Streams.SessionAcc(0L, 0L, 1L), Streams.SessionAcc(65000L, 65000L, 1L)),
      Seq(58000L), 60000L)
    assert(m4.map(s => (s.startMs, s.lastMs, s.n)) === List((0L, 65000L, 3L)))
    // watermark gate unit: close strictly before wm emits, equal waits
    val (emit, keep) = Streams.splitByWatermark(
      Seq(Streams.SessionAcc(0L, 10000L, 2L), Streams.SessionAcc(80000L, 80000L, 1L)),
      wm = 80000L, gapMs = 60000L)
    assert(emit.map(_.startMs) === Seq(0L) && keep.map(_.startMs) === Seq(80000L))
  }

  test("sessionizers wait for the watermark before emitting a " +
    "gap-closed session, so a later admissible event can bridge it " +
    "(both implementations)") {
    implicit val ctx = spark.sqlContext
    // gap 60s, watermark delay 10s — the r04 advice scenario:
    // batch 1 has t=0s and t=65s (intra-batch gap > 60s); the naive
    // fold would emit [0, 60s) immediately. batch 2's t=58s is ABOVE
    // the watermark (65s − 10s = 55s) and within gap of both, so the
    // correct output is ONE bridged session 0→65s with 3 events.
    def drive(name: String,
        f: org.apache.spark.sql.Dataset[Streams.UserEvent2] =>
          org.apache.spark.sql.Dataset[Streams.ClosedSession]): Unit = {
      val in = MemoryStream[Streams.UserEvent2]
      val q = f(in.toDS()).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        in.addData(
          Streams.UserEvent2(1L, ts("2024-01-01 10:00:00"), 1.0),
          Streams.UserEvent2(1L, ts("2024-01-01 10:01:05"), 2.0))
        q.processAllAvailable()
        assert(spark.table(name).isEmpty,
          s"$name emitted before the watermark passed")
        in.addData(Streams.UserEvent2(1L, ts("2024-01-01 10:00:58"), 3.0))
        q.processAllAvailable()
        // advance the watermark well past the bridged session's close,
        // then trigger once more so the timer fires
        in.addData(Streams.UserEvent2(2L, ts("2024-01-01 11:00:00"), 4.0))
        q.processAllAvailable()
        in.addData(Streams.UserEvent2(2L, ts("2024-01-01 11:00:01"), 5.0))
        q.processAllAvailable()
        val got = spark.table(name).as[Streams.ClosedSession].collect()
          .filter(_.user_id == 1L)
        assert(got.length === 1, s"$name: ${got.mkString(";")}")
        assert(got.head.session_start === ts("2024-01-01 10:00:00"))
        assert(got.head.session_end === ts("2024-01-01 10:02:05")) // last+gap
        assert(got.head.n_events === 3L)
      } finally q.stop()
    }
    TestSpark.withRocksDbState(drive("sess_bridge_tws",
      ds => Streams.sessionizeTransformWithState(ds, 60000L)))
  }

  test("streaming near-dup: union of per-batch emissions equals the " +
    "one-shot pair set") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, TestSpark.tiny)
    val docs = docsDf.select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val expected = graft.operators.Dedup.jaccardPairs(docsDf)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect()
      .map { case (a, b, sim) => (a, b) -> sim }.toMap
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString +
      "/idx"
    val got = scala.collection.mutable.Map[(Long, Long), Double]()
    val in = MemoryStream[(Long, String)]
    val q = in.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
        Streams.nearDupIncrementalBatch(df, dir, bid)
          .select("a_id", "b_id", "sim").collect()
          .foreach(r => got((r.getLong(0), r.getLong(1))) = r.getDouble(2))
        ()
      }
      .start()
    try {
      // three uneven batches; every pair must surface exactly when its
      // second member arrives, with the one-shot score
      docs.grouped(docs.length / 3 + 1).foreach { g =>
        in.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      assert(got.keySet === expected.keySet,
        s"missing=${expected.keySet -- got.keySet}, " +
          s"spurious=${got.keySet -- expected.keySet}")
      val off = got.filter { case (k, sim) => math.abs(sim - expected(k)) > 1e-12 }
      assert(off.isEmpty, s"sims differ from the one-shot pairs: $off")
    } finally q.stop()
  }

  test("streaming near-dup: a shingle crossing the df cap between two " +
    "arrivals scores as documented (old set fixed at arrival, new side " +
    "capped now)") {
    import spark.implicits._
    import graft.operators.Dedup.ShingleDfCap
    import graft.streaming.BatchIndex
    val dir = java.nio.file.Files.createTempDirectory("neardup_cap")
      .toString + "/idx"
    val hot = "hot boiler plate" // over the cap before A arrives
    val crossing = "warm cross over" // crosses the cap between A and B
    val a = s"$hot $crossing one two three four five six seven eight"
    val b = s"$hot $crossing one two three four five six seven nine"
    // earlier batches' df deltas, planted with the df table's schema
    def plantDf(bid: Long, rows: (String, Long)*): Unit =
      new BatchIndex(dir, bid).put("df", rows.toDF("shingle", "cnt"))
    plantDf(0L, hot -> (ShingleDfCap + 1L), crossing -> (ShingleDfCap - 1L))
    def run(bid: Long, id: Long, text: String): Map[(Long, Long), Double] =
      Streams.nearDupIncrementalBatch(Seq((id, text)).toDF("doc_id", "text"),
          dir, bid)
        .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect()
        .map { case (x, y, sim) => (x, y) -> sim }.toMap
    assert(run(1L, 1L, a).isEmpty) // A arrives: df(crossing) = cap, kept
    plantDf(2L, crossing -> 1L)
    val got = run(3L, 2L, b) // B arrives: df(crossing) > cap, dropped
    def shingles(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val aSet = shingles(a) - hot // A's set as capped at its arrival
    val bSet = shingles(b) - hot - crossing // B's set capped now
    val inter = (aSet & bSet).size
    val sim = inter.toDouble / (aSet.size + bSet.size - inter)
    assert(sim >= 0.5)
    assert(got.keySet === Set((1L, 2L)))
    assert(math.abs(got((1L, 2L)) - sim) <= 1e-12, s"got $got, expected $sim")
  }

  test("streaming near-dup index is idempotent under foreachBatch " +
    "retries and touches df/size deltas, not the postings corpus") {
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, TestSpark.tiny)
    val docs = docsDf.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (b0, b1) = docs.splitAt(docs.length / 2)
    val expected = graft.operators.Dedup.jaccardPairs(docsDf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("neardup_retry")
      .toString + "/idx"
    def run(batch: Seq[(Long, String)], bid: Long): Set[(Long, Long)] =
      Streams.nearDupIncrementalBatch(
        batch.toDF("doc_id", "text"), dir, bid)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val p0 = run(b0.toIndexedSeq, 0L)
    // simulate a foreachBatch RETRY of batch 0: Spark re-runs the whole
    // batch after the index append. Pairs must match and, crucially,
    // batch 1's scores must not see a double-counted df.
    val p0retry = run(b0.toIndexedSeq, 0L)
    assert(p0retry === p0, "batch-0 retry changed its emitted pairs")
    val p1 = run(b1.toIndexedSeq, 1L)
    assert(p0 ++ p1 === expected,
      s"missing=${expected -- p0 -- p1}, spurious=${(p0 ++ p1) -- expected}")
    // scale shape: the pair plan reads the postings index exactly once
    // (the old⋈prefix(new) candidate join — that scan IS the index's
    // job) and the signature table once; the DF cap comes from the df
    // table, set sizes from the signatures; the only windows are
    // BATCH-sized per-doc rank/size windows (partitioned by doc_id),
    // never a corpus-wide cap window over shingle
    var pairs: DataFrame = null
    val jobs = JobsDuring(spark.sparkContext) {
      pairs = Streams.nearDupBatchRelations(
        Seq((999001L, "fresh doc about nothing at all")).toDF("doc_id", "text"),
        dir, 2L)._1
    }
    // the index reads are declared, not inferred: building the
    // batch's relations launches no schema-inference job
    val inferred = jobs.filter(j => !j.inSqlExecution && j.site.startsWith("parquet at"))
    assert(inferred.isEmpty, s"index reads inferred a parquet schema: $inferred")
    val pairPlan = pairs.queryExecution.executedPlan.toString
    val windowLines = pairPlan.linesIterator
      .filter(_.contains("Window ")).toSeq
    assert(windowLines.forall(_.contains("doc_id")),
      s"non-doc_id-partitioned window crept back:\n${windowLines.mkString("\n")}")
    val postingsScans = "/postings".r.findAllIn(pairPlan).length
    assert(postingsScans === 1,
      s"expected exactly 1 postings-index scan (the old⋈new join), " +
        s"got $postingsScans:\n$pairPlan")
    val setsScans = "/sets".r.findAllIn(pairPlan).length
    assert(setsScans === 1,
      s"expected exactly 1 signature-table scan, got $setsScans:\n$pairPlan")
    assert(!pairPlan.contains("/sizes"), s"a sizes table is read:\n$pairPlan")
  }

  test("streaming near-dup: a doc redelivered in a later batch adds no " +
    "pairs, no self-pair and no df") {
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, TestSpark.tiny)
    val docs = docsDf.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (b0, b1) = docs.splitAt(docs.length / 2)
    val expected = graft.operators.Dedup.jaccardPairs(docsDf)
      .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect()
      .map { case (a, b, sim) => (a, b) -> sim }.toMap
    val dir = java.nio.file.Files.createTempDirectory("neardup_redeliver")
      .toString + "/idx"
    def run(batch: Seq[(Long, String)], bid: Long): Seq[(Long, Long, Double)] =
      Streams.nearDupIncrementalBatch(batch.toDF("doc_id", "text"), dir, bid)
        .select("a_id", "b_id", "sim").as[(Long, Long, Double)].collect().toSeq
    // batch 1 redelivers batch 0's first doc, which has pairs of its own
    val first = b0.head
    assert(expected.keys.exists { case (a, b) => a == first._1 || b == first._1 })
    val emitted = run(b0.toIndexedSeq, 0L) ++ run(first +: b1.toIndexedSeq, 1L)
    val selfPairs = emitted.filter { case (a, b, _) => a == b }
    assert(selfPairs.isEmpty, s"self-pairs: $selfPairs")
    val repeated = emitted.groupBy(p => (p._1, p._2)).filter(_._2.length > 1)
    assert(repeated.isEmpty, s"pairs emitted more than once: ${repeated.keys}")
    val got = emitted.map { case (a, b, sim) => (a, b) -> sim }.toMap
    assert(got.keySet === expected.keySet,
      s"missing=${expected.keySet -- got.keySet}, " +
        s"spurious=${got.keySet -- expected.keySet}")
    val off = got.filter { case (k, sim) => math.abs(sim - expected(k)) > 1e-12 }
    assert(off.isEmpty, s"sims differ from the one-shot pairs: $off")
    val summedDf = spark.read.parquet(s"$dir/df").groupBy("shingle")
      .agg(sum("cnt").as("df")).as[(String, Long)].collect().toMap
    val oneShotDf = graft.operators.Dedup.shingleRows(docsDf)
      .groupBy("shingle").count().as[(String, Long)].collect().toMap
    assert(summedDf === oneShotDf)
  }

  test("streaming curation: upsert of per-batch emissions equals the " +
    "one-shot keep list, in sorted AND shuffled arrival order") {
    import spark.implicits._
    val docsDf = graft.Tables.documents(spark, TestSpark.tiny)
    val expected = graft.operators.TextAnalysis3.keepList
      .run(spark, TestSpark.tiny)
      .select("doc_id", "reason", "kept").as[(Long, String, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val docs = docsDf.select("doc_id", "text").as[(Long, String)].collect()
    def run(order: IndexedSeq[(Long, String)], tag: String)
        : Map[Long, (String, Boolean)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"curation_$tag")
        .toString + "/state"
      // upsert materialization: latest emission per doc_id wins
      val latest = scala.collection.mutable.Map[Long, (String, Boolean)]()
      order.grouped(order.length / 3 + 1).zipWithIndex.foreach {
        case (g, bid) =>
          def deliver() = Streams.curationIncrementalBatch(
              g.toIndexedSeq.toDF("doc_id", "text"), dir, bid.toLong)
            .select("doc_id", "reason", "kept")
            .as[(Long, String, Boolean)].collect().toSeq
          // a foreachBatch retry re-delivers the batch under the same id
          // after its state writes: it must emit what the first did
          val first = deliver()
          val retry = deliver()
          assert(retry.toSet === first.toSet, s"$tag batch $bid: retry changed its emission")
          retry.foreach { case (id, r, k) => latest(id) = (r, k) }
      }
      latest.toMap
    }
    val sorted = run(docs.sortBy(_._1).toIndexedSeq, "sorted")
    assert(sorted === expected,
      s"sorted-arrival diff: ${(expected.toSet -- sorted.toSet).take(5)} " +
        s"vs ${(sorted.toSet -- expected.toSet).take(5)}")
    // arrival order must not matter: every later-arrival invalidation
    // (keeper flip, pair-max flip, holdout-shingle flip) re-emits
    val shuffled = run(
      new scala.util.Random(42).shuffle(docs.toIndexedSeq), "shuffled")
    assert(shuffled === expected,
      s"shuffled-arrival diff: ${(expected.toSet -- shuffled.toSet).take(5)} " +
        s"vs ${(shuffled.toSet -- expected.toSet).take(5)}")
  }

  test("foreachBatch upsert sink: upserts, tombstones, replay-idempotent") {
    implicit val ctx = spark.sqlContext
    val sink = new Streams.UpsertMemorySink("id", Seq("offset"), "is_del")
    val in = MemoryStream[(Int, String, Long, Boolean)]
    val q = in.toDF.toDF("id", "name", "offset", "is_del")
      .writeStream.outputMode("append")
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.merge(df))
      .start()
    try {
      in.addData((1, "ann", 0L, false), (2, "bob", 1L, false))
      q.processAllAvailable()
      // update key 1, delete key 2, and REPLAY offset 0 (stale — ignored)
      in.addData((1, "ann2", 2L, false), (2, null.asInstanceOf[String], 3L, true),
        (1, "ann", 0L, false))
      q.processAllAvailable()
      val state = sink.snapshot
      assert(state.keySet === Set(1))
      assert(state(1).getAs[String]("name") === "ann2")
    } finally q.stop()
  }
}
