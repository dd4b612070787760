package graft.perfbench

import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType

import graft.functions.AvroCodec
import graft.sources.{InMemorySchemaRegistry, JdbcUpsertSink, KafkaCdc, SchemaRegistry}
import graft.streaming.{KlState, Streams, SurvivalState}

/** The `cdc_stream` workload: the seeded generator feeds MemoryStreams on
  * its open-loop schedule from this (single) thread. Four streaming
  * queries consume them, the landing query during the window and the
  * three twins from the end of the window on. Between the two, the landing
  * query alone works through `CdcGen.Bursts` backlogs of users changes,
  * each offered at once; all but the first measure its capacity:
  *   - `users_land`: Confluent-framed Avro `pg.public.users` records,
  *     decoded by `SchemaRegistry.resolveAndDecodeById` and landed by
  *     `JdbcUpsertSink` into an in-memory Derby table;
  *   - `survival`: events into `SurvivalState.survivalState`;
  *   - `kl`: documents into `KlState.klWordCounts`;
  *   - `neardup`: documents into `Streams.nearDupIncrementalBatch`.
  * Every landed output is checked against the generator's own expected
  * output after the stream drains. */
object CdcRun {
  /** nominal rates (events/s) of the users, events and documents feeds */
  val UsersRate = 15.0
  val EventsRate = 15.0
  val DocsRate = 2.0
  /** landing batches in set-up */
  val WarmBatches = 8

  private def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  def run(spark: SparkSession, seed: Long, seconds: Double, runDir: String,
      tracer: Option[Tracer], setupStart: () => Double): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sc = spark.sparkContext
    val gen = new CdcGen(seed, seconds, UsersRate, EventsRate, DocsRate)

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // ---- progress of every micro-batch, from the query listener ----
    val progress = new ConcurrentHashMap[String, mutable.ArrayBuffer[Map[String, Any]]]()
    val committedOffset = new ConcurrentHashMap[String, java.lang.Long]()
    val runIds = new ConcurrentHashMap[String, String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        runIds.put(e.runId.toString, e.name)
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val src = p.sources.headOption
        def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
        val end = src.map(s => off(s.endOffset)).getOrElse(-1L)
        val ops = p.stateOperators.toSeq
        val rec = Map[String, Any](
          "batch" -> p.batchId,
          "start_offset" -> src.map(s => off(s.startOffset)).getOrElse(-1L),
          "end_offset" -> end,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
        progress.computeIfAbsent(p.name, _ => mutable.ArrayBuffer.empty).synchronized {
          progress.get(p.name) += rec
        }
        if (p.numInputRows > 0 || end >= 0) committedOffset.put(p.name, end)
      }
    })

    // ---- sources: one partition each, like a single-partition topic (by
    // default a MemoryStream makes one partition per addData call) ----
    val usersIn = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp)](1)
    val eventsIn = MemoryStream[(Long, String, Long)](1)
    val klIn = MemoryStream[(Long, String, String)](1)
    val dupIn = MemoryStream[(Long, String, String)](1)

    val registry = new InMemorySchemaRegistry
    registry.register(s"${CdcGen.Topic}-value", 1, CdcGen.valueSchemaV1Json)
    val derbyUrl = "jdbc:derby:memory:perfbench_land;create=true"
    val table = "users_latest"
    val merge = JdbcUpsertSink(derbyUrl, table, "id", "version", "__deleted")

    // per-batch timings recorded inside the foreachBatch bodies
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    def timed[T](kind: String, batch: Long)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally spans.add(Map("kind" -> kind, "batch" -> batch,
        "ms" -> (System.nanoTime() - t0) / 1e6))
    }

    val landBody: (DataFrame, Long) => Unit = (batch, id) => {
      val rows = timed("sources.decode", id) {
        val decoded = SchemaRegistry.resolveAndDecodeById(batch, registry, CdcGen.Topic)
        val fields = decoded.schema("after").dataType.asInstanceOf[StructType]
          .fieldNames.filterNot(_ == "id").toSeq
        decoded.select(
          (AvroCodec.fromConfluentAvro(col("key"), CdcGen.keySchemaJson)
            .getField("id").as("id") +: fields.map(f => col(s"after.$f").as(f))) ++
            Seq(col("offset").as("version"), col("is_tombstone").as("__deleted")): _*)
          .localCheckpoint(true)
      }
      timed("sources.merge", id)(merge(rows, id))
    }

    val survivalOut = new ConcurrentHashMap[Long, (Long, Long, Long)]()
    val klOut = new ConcurrentHashMap[(String, String), Long]()
    val pairsOut = new ConcurrentHashMap[(Long, Long), Double]()
    val selfPairs = new java.util.concurrent.atomic.AtomicInteger()
    val indexDir = s"$runDir/neardup_index"

    def start(name: String, df: DataFrame, mode: String)(
        body: (DataFrame, Long) => Unit): StreamingQuery =
      df.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", s"$runDir/checkpoints/$name")
        .foreachBatch(body).start()

    val land = start("users_land", usersIn.toDF()
      .toDF(KafkaCdc.recordSchema.fieldNames.toSeq: _*), "append")(landBody)
    // The twins start when the window closes and work through the rows
    // queued for them. Run alongside the landing query, their batches on
    // the same four cores (5-10 s for near-dup) made land freshness differ
    // by a third between runs.
    def startTwins(): Seq[StreamingQuery] = Seq(
      start("survival", SurvivalState.survivalState(eventsIn.toDF()
          .toDF("user_id", "event_type", "ts_us")
          .select(col("user_id"), col("event_type"),
            timestamp_micros(col("ts_us")).as("ts"))).toDF(), "update") {
        (b, _) => b.collect().foreach(r =>
          survivalOut.put(r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      },
      start("kl", KlState.klWordCounts(klIn.toDF()
          .toDF("doc_id", "text", "source")).toDF(), "update") {
        (b, _) => b.collect().foreach(r =>
          klOut.put((r.getString(0), r.getString(1)), r.getLong(2)))
      },
      start("neardup", dupIn.toDF().toDF("doc_id", "text", "source")
          .select("doc_id", "text"), "append") { (b, id) =>
        val pairs = timed("neardup", id)(
          Streams.nearDupIncrementalBatch(b, indexDir, id).collect())
        pairs.foreach { r =>
          val (a, bb) = (r.getLong(0), r.getLong(1))
          if (a == bb) selfPairs.incrementAndGet()
          else pairsOut.put((math.min(a, bb), math.max(a, bb)), r.getDouble(2))
        }
      })

    /** One generator feed: its window schedule, the seq range each
      * addData call carried (by MemoryStream offset), and how late each
      * window event was offered. `add` returns the offset it wrote. */
    final class Feed(val warm: Int, val due: Array[Double],
        add: (Int, Int, Long) => Long) {
      val chunks = mutable.ArrayBuffer.empty[(Long, Int, Int)]
      val lateness = new Array[Double](due.length)
      var next = 0
      def offer(from: Int, until: Int, stampMs: Long): Unit =
        chunks += ((add(from, until, stampMs), from, until))
      /** offer every window event due by `nowS` in one addData call */
      def offerDue(nowS: Double, w0Ms: Long): Unit = {
        var i = next
        while (i < due.length && due(i) <= nowS) {
          lateness(i) = (nowS - due(i)) * 1e3
          i += 1
        }
        if (i > next) {
          offer(warm + next, warm + i, w0Ms + (nowS * 1e3).toLong)
          next = i
        }
      }
      def done: Boolean = next >= due.length
    }
    val users = new Feed(CdcGen.WarmUsers, gen.usersDue, (from, until, stampMs) => {
      if (until > gen.widenAt && registry.latest(s"${CdcGen.Topic}-value").exists(_._1 == 1))
        registry.register(s"${CdcGen.Topic}-value", 2, CdcGen.valueSchemaV2Json)
      val ts = new Timestamp(stampMs)
      usersIn.addData(gen.users.slice(from, until).toSeq.map(c =>
        (c.key, c.value, CdcGen.Topic, 0, c.seq.toLong, ts))).json.toLong
    })
    val events = new Feed(CdcGen.WarmEvents, gen.eventsDue, (from, until, _) =>
      eventsIn.addData(gen.events.slice(from, until).toSeq.map(e =>
        (e.userId, e.eventType, e.tsMicros))).json.toLong)
    val docs = new Feed(CdcGen.WarmDocs, gen.docsDue, (from, until, _) => {
      val batch = gen.docs.slice(from, until).toSeq
      dupIn.addData(batch.map(d => (d.docId, d.text, d.source)))
      klIn.addData(batch.map(d => (d.docId, d.text, d.source))).json.toLong
    })
    val feeds = Map("users" -> users, "events" -> events, "docs" -> docs)

    // ---- set-up ends once the warm-up changes are landed, in
    // `WarmBatches` batches: the landing batch time falls over its first
    // ten or so batches in a fresh JVM ----
    Seq(events, docs).foreach(f => f.offer(0, f.warm, System.currentTimeMillis()))
    (0 until WarmBatches).foreach { i =>
      users.offer(users.warm * i / WarmBatches, users.warm * (i + 1) / WarmBatches,
        System.currentTimeMillis())
      land.processAllAvailable()
    }
    val setupBatches = Option(land.lastProgress).map(_.batchId + 1).getOrElse(0L)
    val setupS = setupStart()

    // ---- the open-loop window ----
    var backlogMax = 0
    var lastBacklog = 0L
    val w0Ms = System.currentTimeMillis()
    val w0 = System.nanoTime()
    def nowS: Double = (System.nanoTime() - w0) / 1e9
    while (!feeds.values.forall(_.done)) {
      val t = nowS
      feeds.values.foreach(_.offerDue(t, w0Ms))
      if (System.nanoTime() - lastBacklog > 50000000L) {
        lastBacklog = System.nanoTime()
        val landed = Option(committedOffset.get("users_land")).map(_.longValue).getOrElse(-1L)
        val landedUntil = users.chunks.filter(_._1 <= landed).map(_._3).maxOption.getOrElse(0)
        backlogMax = math.max(backlogMax, users.warm + users.next - landedUntil)
      }
      val next = feeds.values.flatMap(f => f.due.lift(f.next)).minOption.getOrElse(t)
      val sleepMs = ((next - nowS) * 1e3).toLong
      if (sleepMs > 0) Thread.sleep(math.min(sleepMs, 20L))
    }
    val windowS = nowS
    val streams = mutable.ArrayBuffer(land)
    val watchdog = new Thread(() => {
      try { Thread.sleep(90000L); streams.synchronized(streams.toList).foreach(_.stop()) }
      catch { case _: InterruptedException => () }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    // ---- capacity: the window's last batch lands first, then each backlog
    // is offered in one addData call and timed until it is landed ----
    val bursts = mutable.ArrayBuffer.empty[Map[String, Any]]
    val burstError =
      try {
        land.processAllAvailable()
        (0 until CdcGen.Bursts).foreach { i =>
          val from = gen.burstFrom + i * CdcGen.BurstUsers
          val t0 = System.nanoTime()
          users.offer(from, from + CdcGen.BurstUsers, System.currentTimeMillis())
          land.processAllAvailable()
          bursts += Map("from" -> from, "rows" -> CdcGen.BurstUsers, "warm" -> (i == 0),
            "offset" -> users.chunks.last._1, "s" -> (System.nanoTime() - t0) / 1e9)
        }
        None
      } catch { case e: Throwable => Some(err(e)) }
    val burstsS = (System.nanoTime() - w0) / 1e9 - windowS
    val all = land +: startTwins()
    streams.synchronized(streams ++= all.tail)

    // ---- drain, then check every output against the generator ----
    val streamErrors = (burstError.map("users_land" -> _) ++ all.flatMap { q =>
      try { q.processAllAvailable(); None }
      catch { case e: Throwable => Some(q.name -> err(e)) }
    }).toMap
    watchdog.interrupt()
    val drainS = (System.nanoTime() - w0) / 1e9 - windowS - burstsS
    PerfbenchBus.drain(sc)
    all.foreach(_.stop())
    PerfbenchBus.drain(sc)

    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def check(name: String, expected: Map[Any, Any], got: Map[Any, Any]): Unit = {
      val missing = expected.keySet.count(k => !got.contains(k))
      val extra = got.keySet.count(k => !expected.contains(k))
      val wrong = expected.count { case (k, v) =>
        got.get(k).exists(g => (g, v) match {
          case (a: Double, b: Double) => math.abs(a - b) > 1e-9
          case (a, b) => a != b
        })
      }
      checks(name) = Map("expected" -> expected.size, "got" -> got.size,
        "missing" -> missing, "extra" -> extra, "wrong" -> wrong)
    }
    val landed: Map[Any, Any] =
      try {
        val conn = DriverManager.getConnection(derbyUrl)
        try {
          val rs = conn.createStatement().executeQuery(s"SELECT * FROM \"$table\"")
          val cols = (1 to rs.getMetaData.getColumnCount).map(rs.getMetaData.getColumnName)
          def opt[T](c: String)(f: String => T): Option[T] =
            if (!cols.contains(c)) None else { val v = f(c); if (rs.wasNull()) None else Some(v) }
          val out = mutable.HashMap.empty[Any, Any]
          while (rs.next())
            out(rs.getInt("id")) = (rs.getString("username"), rs.getString("email"),
              opt("created_at")(rs.getLong), opt("phone")(rs.getString),
              rs.getLong("version"))
          out.toMap
        } finally conn.close()
      } catch { case e: Throwable => checks("land_read") = Map("error" -> err(e)); Map.empty }
    check("land", gen.landedTruth.toMap[Any, Any], landed)
    check("survival", gen.survivalTruth.toMap[Any, Any], survivalOut.asScala.toMap[Any, Any])
    check("kl", gen.klTruth.toMap[Any, Any], klOut.asScala.toMap[Any, Any])
    check("neardup", gen.nearDupTruth.toMap[Any, Any], pairsOut.asScala.toMap[Any, Any])
    checks("neardup_self_pairs") = Map("expected" -> 0, "got" -> selfPairs.get,
      "missing" -> 0, "extra" -> selfPairs.get, "wrong" -> 0)

    val indexBytes = {
      val p = java.nio.file.Paths.get(indexDir)
      if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }

    Map(
      "workload" -> "cdc_stream", "setup_s" -> setupS, "window_s" -> windowS,
      "setup_batches" -> setupBatches, "bursts_s" -> burstsS, "drain_s" -> drainS, "window_start_ms" -> w0Ms,
      "bursts" -> bursts.toSeq,
      "rates" -> Map("users" -> UsersRate, "events" -> EventsRate, "docs" -> DocsRate),
      "warm" -> feeds.map { case (k, f) => k -> f.warm },
      "due_s" -> feeds.map { case (k, f) => k -> f.due },
      "lateness_ms" -> feeds.map { case (k, f) => k -> f.lateness },
      "chunks" -> feeds.map { case (k, f) => k -> f.chunks.map(c => Seq(c._1, c._2, c._3)) },
      "feeds" -> Map("users_land" -> "users", "survival" -> "events", "kl" -> "docs",
        "neardup" -> "docs"),
      "distinct_keys" -> gen.users.map(c => c.id),
      "progress" -> progress.asScala.map { case (k, v) => k -> v.toSeq },
      "spans" -> spans.asScala.toSeq,
      "backlog_max_events" -> backlogMax,
      "neardup_index_bytes" -> indexBytes,
      "stream_errors" -> streamErrors,
      "checks" -> checks,
      "generated" -> Map("users" -> gen.users.length, "events" -> gen.events.length,
        "docs" -> gen.docs.length),
      "jobs" -> tracer.map(tr => runIds.asScala.map { case (run, name) =>
        name -> tr.group(run).toMap }.toMap))
  }
}
