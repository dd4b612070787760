package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.sql.Timestamp

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{InMemorySchemaRegistry, KafkaCdc, SchemaRegistry}

/** §1.2 dynamic-schema modes: plan-time resolution and per-batch
  * re-resolution under schema evolution. */
class SchemaRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val v1 =
    """{"type":"record","name":"users","fields":[
      |{"name":"id","type":"int"}]}""".stripMargin
  private val v2 =
    """{"type":"record","name":"users","fields":[
      |{"name":"id","type":"int"},
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

  private def records(value: Array[Byte]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("k".getBytes, value,
        "pg.public.users", 0, 0L, Timestamp.valueOf("2024-01-01 00:00:00")))),
      KafkaCdc.recordSchema)

  test("plan-time resolution uses the subject's latest schema") {
    val reg = new InMemorySchemaRegistry
    reg.register("pg.public.users-value", 1, v1)
    val df = SchemaRegistry.resolveAndDecode(
      records(enc(v1, 1)(_.put("id", 5))), reg, "pg.public.users")
    assert(df.select("after.id").collect()(0).getInt(0) === 5)
    assert(!df.select("after.*").columns.contains("email"))
  }

  test("per-batch re-resolution picks up a widened schema mid-stream") {
    val reg = new InMemorySchemaRegistry
    reg.register("pg.public.users-value", 1, v1)
    var seen = Vector.empty[DataFrame]
    val body = SchemaRegistry.decodeEachBatchWith(reg, "pg.public.users") {
      (decoded, _) => seen :+= decoded.select("after.*")
    }
    body(records(enc(v1, 1)(_.put("id", 1))), 0L)
    reg.register("pg.public.users-value", 2, v2) // schema evolves
    body(records(enc(v2, 2) { r => r.put("id", 2); r.put("email", "a@x.io") }), 1L)
    assert(reg.versions("pg.public.users-value").map(_._1) === Seq(1, 2))
    assert(seen(0).columns.toSeq === Seq("id"))
    assert(seen(1).collect().toSeq === Seq(Row(2, "a@x.io")))
  }
}
