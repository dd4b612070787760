package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.JobsDuring
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{InMemorySchemaRegistry, JdbcUpsertSink, KafkaCdc, SchemaRegistry}

/** Schema drift END-TO-END through the sink (r14 VERDICT task 8): an
  * EVOLVED Avro schema (new nullable column mid-stream) driven through
  * decode → upsert → landed table in one checkpointed run, with the
  * kill/restart SPANNING the evolution boundary — the whole-DB CDC
  * scenario where an upstream table changes shape while a consumer is
  * down. The replayed batch still carries old-wire-id bytes after the
  * registry moved on, which is exactly what
  * [[SchemaRegistry.resolveAndDecodeById]] exists for. */
class SchemaDriftE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val v1 =
    """{"type":"record","name":"users","fields":[
      |{"name":"id","type":"long"},
      |{"name":"username","type":"string"},
      |{"name":"version","type":"long"}]}""".stripMargin
  private val v2 =
    """{"type":"record","name":"users","fields":[
      |{"name":"id","type":"long"},
      |{"name":"username","type":"string"},
      |{"name":"version","type":"long"},
      |{"name":"email","type":["null","string"],"default":null}]}""".stripMargin

  /** Confluent wire framing: magic 0 + 4-byte registry id + avro body */
  private def enc(json: String, wireId: Int)(
      fill: GenericRecord => Unit): Array[Byte] = {
    val sc = new Schema.Parser().parse(json)
    val rec: GenericRecord = new GenericData.Record(sc)
    fill(rec)
    val out = new ByteArrayOutputStream()
    val e = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](sc).write(rec, e); e.flush()
    ByteBuffer.allocate(5 + out.size())
      .put(0.toByte).putInt(wireId).put(out.toByteArray).array()
  }

  private def v1Rec(id: Long, u: String, v: Long): Array[Byte] =
    enc(v1, 1) { r => r.put("id", id); r.put("username", u); r.put("version", v) }
  private def v2Rec(id: Long, u: String, v: Long, email: String): Array[Byte] =
    enc(v2, 2) { r =>
      r.put("id", id); r.put("username", u); r.put("version", v)
      r.put("email", email)
    }

  test("evolved schema mid-stream lands through decode → upsert with a " +
    "kill/restart spanning the evolution boundary (replayed batch " +
    "carries old-wire-id bytes; mixed-id batch decodes per slice)") {
    val topic = "pg.public.users"
    val reg = new InMemorySchemaRegistry
    reg.register(s"$topic-value", 1, v1)
    val url = "jdbc:derby:memory:graft_drift;create=true"
    val srcDir = java.nio.file.Files.createTempDirectory("drift_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("drift_ckpt").toString
    var off = 0L
    def writeChunk(values: Seq[Array[Byte]]): Unit = {
      val rows = values.map { v =>
        off += 1
        Row("k".getBytes, v, topic, 0, off,
          Timestamp.valueOf("2024-01-01 00:00:00"))
      }
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), KafkaCdc.recordSchema)
        .write.mode("append").parquet(srcDir)
    }
    // pre-evolution traffic: two v1 files (one will replay post-crash)
    writeChunk(Seq(v1Rec(1L, "ann", 10L), v1Rec(2L, "bob", 11L)))
    writeChunk(Seq(v1Rec(2L, "bob2", 12L), v1Rec(3L, "carl", 13L)))

    val merge = JdbcUpsertSink(url, "drift_latest", "id", "version", "__deleted")
    val crashed = new AtomicBoolean(false)
    val body: (DataFrame, Long) => Unit = (batch, bid) => {
      // re-resolve per batch, decode per WRITER id: after the registry
      // evolves, replayed old-id bytes and fresh new-id bytes may share
      // one batch and must both decode
      val rows = SchemaRegistry.resolveAndDecodeById(batch, reg, topic)
        .filter(!col("is_tombstone"))
        .select(col("after.*"), lit(false).as("__deleted"))
        .localCheckpoint(true)
      // crash keyed on CONTENT (the batch carrying id=3), before apply,
      // so its offsets never commit and it replays AFTER the evolution
      if (rows.filter(col("id") === 3L).count() > 0 &&
          crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash before apply")
      merge(rows, bid)
    }
    def start() = spark.readStream.schema(KafkaCdc.recordSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.foreachBatch(body)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()

    val q1 = start()
    val failed =
      try { q1.awaitTermination(120000); false }
      catch { case _: StreamingQueryException => true }
    assert(failed, "first run must die on the injected crash")
    assert(crashed.get())
    // the crashed batch never landed: id=3 absent
    val mid = spark.read.jdbc(url, "\"drift_latest\"", new java.util.Properties)
      .select("id").as[Long].collect().toSet
    assert(!mid.contains(3L))

    // ---- the evolution happens while the consumer is down ----
    reg.register(s"$topic-value", 2, v2)
    // post-evolution traffic: a MIXED-wire-id file (v2 update of id=1
    // with the new column + a straggler producer still writing v1)
    writeChunk(Seq(v2Rec(1L, "ann2", 20L, "a@x.io"), v1Rec(4L, "dana", 14L)))

    val q2 = start()
    q2.awaitTermination(120000)
    val got = spark.read.jdbc(url, "\"drift_latest\"", new java.util.Properties)
      .select("id", "username", "version", "email")
      .as[(Long, String, Long, Option[String])].collect().toSet
    assert(got === Set(
      (1L, "ann2", 20L, Some("a@x.io")), // v2 row: the new column landed
      (2L, "bob2", 12L, None), // replayed v1 batch, decoded under latest=v2
      (3L, "carl", 13L, None), // the crashed batch healed by replay
      (4L, "dana", 14L, None))) // v1 straggler in the mixed batch
  }

  /** Kafka records of one topic, at offsets 0, 1, … (null = tombstone) */
  private def kafkaRecords(topic: String, values: Array[Byte]*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      values.zipWithIndex.map { case (v, i) =>
        Row("k".getBytes, v, topic, 0, i.toLong,
          Timestamp.valueOf("2024-01-01 00:00:00"))
      }),
      KafkaCdc.recordSchema)

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def readTable(url: String, table: String): DataFrame =
    spark.read.jdbc(url, "\"" + table + "\"", new java.util.Properties)

  test("building the by-id decode of a mixed batch launches no Spark job") {
    val topic = "pg.public.t1"
    val reg = new InMemorySchemaRegistry
    reg.register(s"$topic-value", 1, v1)
    reg.register(s"$topic-value", 2, v2)
    val batch = kafkaRecords(topic, v1Rec(1L, "ann", 10L), null,
      v2Rec(2L, "bob", 11L, "b@x.io"), v1Rec(3L, "carl", 12L), null)
    var decoded: DataFrame = null
    val jobs = JobsDuring(spark.sparkContext) {
      decoded = SchemaRegistry.resolveAndDecodeById(batch, reg, topic)
    }
    assert(jobs.isEmpty, s"building the decode launched jobs: $jobs")
    assert(decoded.columns.toSeq === Seq("key", "after", "is_tombstone",
      "topic", "partition", "offset", "timestamp"))
    val got = decoded.select(col("offset"), col("is_tombstone"), col("after"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), Option(r.getStruct(2))))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      (0L, false, Some(Row(1L, "ann", 10L, null))), // v1 under latest v2
      (1L, true, None),
      (2L, false, Some(Row(2L, "bob", 11L, "b@x.io"))),
      (3L, false, Some(Row(3L, "carl", 12L, null))),
      (4L, true, None)))
  }

  test("resolveAndDecodeById routes tombstones and rejects unknown wire ids") {
    val topic = "pg.public.t2"
    val reg = new InMemorySchemaRegistry
    reg.register(s"$topic-value", 1, v1)
    val out = SchemaRegistry.resolveAndDecodeById(
        kafkaRecords(topic, v1Rec(9L, "zoe", 1L), null), reg, topic)
      .select(col("after.id"), col("is_tombstone"))
      .as[(Option[Long], Boolean)].collect().toSet
    assert(out === Set((Some(9L), false), (None, true)))
    // a wire id the registry has never seen must fail LOUDLY, not null:
    // the decode is planned against a registry snapshot, so it fails
    // when the batch executes
    val unknown = enc(v1, 99) { r =>
      r.put("id", 1L); r.put("username", "x"); r.put("version", 1L)
    }
    val decoded = SchemaRegistry.resolveAndDecodeById(
      kafkaRecords(topic, unknown), reg, topic)
    val e = intercept[Exception](decoded.collect())
    assert(causes(e).exists(c =>
      c.isInstanceOf[IllegalStateException] && c.getMessage.contains("99")), e)

    // ... and a landing of such a batch leaves the target unchanged
    val url = "jdbc:derby:memory:graft_drift_unknown;create=true"
    val merge = JdbcUpsertSink(url, "unknown_latest", "id", "version", "__deleted")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, Timestamp)]
    val q = in.toDF().toDF(KafkaCdc.recordSchema.fieldNames.toSeq: _*)
      .writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
        merge(SchemaRegistry.resolveAndDecodeById(batch, reg, topic)
          .select(col("after.*"), col("is_tombstone").as("__deleted")), bid)
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("drift_unknown_ckpt").toString)
      .start()
    def offer(offset: Long, value: Array[Byte]): Unit = in.addData(("k".getBytes,
      value, topic, 0, offset, Timestamp.valueOf("2024-01-01 00:00:00")))
    def landed: Set[(Long, String, Long)] = readTable(url, "unknown_latest")
      .select("id", "username", "version").as[(Long, String, Long)].collect().toSet
    try {
      offer(0L, v1Rec(5L, "eve", 1L))
      q.processAllAvailable()
      assert(landed === Set((5L, "eve", 1L)))
      offer(1L, v1Rec(5L, "eve2", 2L))
      offer(2L, unknown)
      val failed = intercept[StreamingQueryException](q.processAllAvailable())
      assert(causes(failed).exists(c =>
        c.isInstanceOf[IllegalStateException] && c.getMessage.contains("99")), failed)
    } finally q.stop()
    assert(landed === Set((5L, "eve", 1L)))
  }

  test("by-id decode resolves onto latest: int promotes to long, " +
    "writer-only fields are skipped") {
    val topic = "pg.public.t3"
    val w1 =
      """{"type":"record","name":"t","fields":[
        |{"name":"id","type":"int"},
        |{"name":"legacy","type":"string"},
        |{"name":"n","type":"int"}]}""".stripMargin
    val latest =
      """{"type":"record","name":"t","fields":[
        |{"name":"id","type":"int"},
        |{"name":"n","type":"long"}]}""".stripMargin
    val reg = new InMemorySchemaRegistry
    reg.register(s"$topic-value", 1, w1)
    reg.register(s"$topic-value", 2, latest)
    val decoded = SchemaRegistry.resolveAndDecodeById(kafkaRecords(topic,
      enc(w1, 1) { r => r.put("id", 1); r.put("legacy", "old"); r.put("n", 7) },
      enc(latest, 2) { r => r.put("id", 2); r.put("n", 1L << 40) }), reg, topic)
      .select("after.*")
    assert(decoded.schema.fields.map(f => f.name -> f.dataType).toSeq ===
      Seq("id" -> IntegerType, "n" -> LongType))
    assert(decoded.collect().toSet === Set(Row(1, 7L), Row(2, 1L << 40)))
  }

  test("a column dropped by the latest schema is absent from the decode " +
    "and keeps its landed values in the sink's target") {
    val topic = "pg.public.t4"
    val reg = new InMemorySchemaRegistry
    reg.register(s"$topic-value", 1, v2) // carries email
    val url = "jdbc:derby:memory:graft_drift_drop;create=true"
    val merge = JdbcUpsertSink(url, "drop_latest", "id", "version", "__deleted")
    def land(bid: Long, values: Array[Byte]*): Seq[String] = {
      val decoded = SchemaRegistry.resolveAndDecodeById(
        kafkaRecords(topic, values: _*), reg, topic)
        .select(col("after.*"), col("is_tombstone").as("__deleted"))
      merge(decoded, bid)
      decoded.columns.toSeq
    }
    def v2At1(id: Long, u: String, v: Long, email: String): Array[Byte] =
      enc(v2, 1) { r =>
        r.put("id", id); r.put("username", u); r.put("version", v)
        r.put("email", email)
      }
    land(0L, v2At1(1L, "ann", 1L, "a@x.io"), v2At1(2L, "bob", 2L, "b@x.io"))
    // email is dropped upstream: latest is v1's shape, under id 2
    reg.register(s"$topic-value", 2, v1)
    val cols = land(1L, v2At1(1L, "ann2", 3L, "new@x.io"), enc(v1, 2) { r =>
      r.put("id", 3L); r.put("username", "carl"); r.put("version", 4L)
    })
    assert(!cols.contains("email"))
    val got = readTable(url, "drop_latest").select("id", "username", "email")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got === Set(
      (1L, "ann2", Some("a@x.io")), // updated; email no longer updated
      (2L, "bob", Some("b@x.io")), // untouched
      (3L, "carl", None))) // inserted after the drop
  }

  test("a latest-schema field with no default that the writer lacks " +
    "fails the batch and names the field") {
    val topic = "pg.public.t5"
    val strict =
      """{"type":"record","name":"users","fields":[
        |{"name":"id","type":"long"},
        |{"name":"username","type":"string"},
        |{"name":"version","type":"long"},
        |{"name":"score","type":"int"}]}""".stripMargin
    val reg = new InMemorySchemaRegistry
    reg.register(s"$topic-value", 1, v1)
    reg.register(s"$topic-value", 2, strict)
    val decoded = SchemaRegistry.resolveAndDecodeById(
      kafkaRecords(topic, v1Rec(1L, "ann", 1L)), reg, topic)
    val e = intercept[Exception](decoded.collect())
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains("score"))), e)
  }
}
