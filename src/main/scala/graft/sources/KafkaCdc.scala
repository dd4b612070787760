package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.AvroCodec
import graft.operators.Cdc

/** Kafka CDC source surface (SURVEY.md §2.1 S1–S8).
  *
  * The reference's three consumers are three read shapes over Debezium
  * topics; here each is a declarative option set over Spark's Kafka
  * source plus a shared decode pipeline. The transforms take the Kafka
  * source's fixed record schema as input, so they are testable against
  * synthesized DataFrames without a broker (the connector jar isn't part
  * of this distribution; on a cluster, `format("kafka")` plugs straight
  * into [[decodeCdc]] unchanged).
  */
object KafkaCdc {

  /** The Spark Kafka source's record shape — also the synthesis schema
    * for broker-less tests (FIXTURES.md §1.1). */
  val recordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true), // null = tombstone
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))

  /** S1: streaming subscribe options — consumer-group semantics come from
    * the checkpoint (ST1), earliest start mirrors
    * auto.offset.reset=earliest (reference: main.py:17). */
  def subscribeOptions(servers: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> servers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest")

  /** S7: whole-DB fan-out — one stream over every topic of the connector
    * prefix (reference: all.json topic.prefix pg_schemas); per-table
    * demux is a filter/partitionBy on the topic column downstream. */
  def subscribePatternOptions(servers: String, prefix: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> servers,
      "subscribePattern" -> s"${java.util.regex.Pattern.quote(prefix)}\\..*",
      "startingOffsets" -> "earliest")

  /** S2+S3: bounded offset-range replay (reference: main1.py seek/poll
    * over offsets [0,5) with read_committed) as a *batch* scan — offsets
    * are first-class, making the changelog an offset-addressable table. */
  def replayOptions(
      servers: String,
      topic: String,
      partition: Int,
      fromOffset: Long,
      untilOffset: Long): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> servers,
      "assign" -> s"""{"$topic":[$partition]}""",
      "startingOffsets" -> s"""{"$topic":{"$partition":$fromOffset}}""",
      "endingOffsets" -> s"""{"$topic":{"$partition":$untilOffset}}""",
      "kafka.isolation.level" -> "read_committed")

  /** Streaming read (S1/S7). */
  def readStream(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.readStream.format("kafka").options(options).load()

  /** Batch replay read (S2). */
  def readReplay(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.read.format("kafka").options(options).load()

  /** Decoded CDC record stream: Confluent-framed Avro key/value →
    * structs, tombstones flagged (null value, reference: main.py:37-39),
    * per-table demux column retained. Works identically on batch and
    * streaming inputs. */
  def decodeCdc(
      records: DataFrame,
      valueSchemaJson: String,
      keySchemaJson: Option[String] = None): DataFrame =
    cdcFrame(records,
      AvroCodec.fromConfluentAvro(col("value"), valueSchemaJson), keySchemaJson)

  /** The decoded-record shape every CDC decode returns, with `after`
    * the given decode of the value column (null on tombstones). */
  private[sources] def cdcFrame(
      records: DataFrame,
      after: Column,
      keySchemaJson: Option[String] = None): DataFrame = {
    val key = keySchemaJson match {
      case Some(ks) => AvroCodec.fromConfluentAvro(col("key"), ks)
      case None     => col("key").cast("binary")
    }
    records.select(
      key.as("key"),
      when(col("value").isNotNull, after).as("after"),
      col("value").isNull.as("is_tombstone"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))
  }

  /** S7 per-table demux: one multi-topic stream (subscribePattern over
    * the whole-DB connector prefix) split into per-table changelogs,
    * each decoded with its own registry-resolved schema. The filter is a
    * partition-pruning predicate on the topic column — at scale each
    * table's pipeline reads only its topic's partitions. */
  def demuxTables(
      records: DataFrame,
      registry: SchemaRegistry,
      topics: Seq[String]): Map[String, DataFrame] =
    topics.map { t =>
      val (_, schema) = registry.latest(s"$t-value").getOrElse(
        throw new IllegalStateException(s"no schema for $t-value"))
      t -> decodeCdc(records.filter(col("topic") === t), schema)
    }.toMap

  /** Materialized table state from a decoded, bounded changelog: latest
    * image per key in (partition, offset) order, tombstoned keys dropped
    * — the full S5+ST2+ST3 path as one call.
    *
    * `recordKey` must come from the Kafka *key* (not the value): a
    * tombstone's after-image is null, so only the key identifies which
    * row it deletes. Keys hash to a fixed partition, so (partition,
    * offset) totally orders each key's history. */
  def materializeTable(decoded: DataFrame, recordKey: Column): DataFrame =
    Cdc.materialize(
        decoded.withColumn("__graft_key", recordKey),
        Seq("__graft_key"),
        Seq(col("partition"), col("offset")),
        isTombstone = col("is_tombstone"))
      .select(col("after.*"))
}
