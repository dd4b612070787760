package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.functions.AvroCodec

/** Dynamic schema resolution (SURVEY.md §1.2): the reference resolves
  * Avro schemas two ways — per message from the Schema Registry
  * (reference: main.py:6-9,22) or statically from a file
  * (reference: read_from_kafka.py:8). The engine's equivalents:
  *
  *  - one decode, [[SchemaRegistry.resolveAndDecodeById]]: snapshot the
  *    subject's versions when the decode is built and decode each record
  *    with its writer schema onto the latest one;
  *  - for schema evolution, call it per micro-batch inside foreachBatch
  *    ([[SchemaRegistry.decodeEachBatchWith]]) — new fields appear as
  *    soon as the registry serves the widened schema, without restarting
  *    the query.
  *
  * The trait is transport-agnostic; [[InMemorySchemaRegistry]] serves
  * tests and broker-less environments (a Confluent-REST-backed
  * implementation is a drop-in: `versions` is
  * `GET /subjects/{s}/versions`).
  */
trait SchemaRegistry {
  /** every (id, schema) registered under a subject, e.g.
    * "pg.public.users-value", oldest first; the last is the latest */
  def versions(subject: String): Seq[(Int, String)]
  /** latest (id, schema) for a subject */
  def latest(subject: String): Option[(Int, String)] = versions(subject).lastOption
}

final class InMemorySchemaRegistry extends SchemaRegistry {
  private val bySubject = new ConcurrentHashMap[String, Vector[(Int, String)]]()

  /** Registers `schemaJson` under `id` as the subject's latest version. */
  def register(subject: String, id: Int, schemaJson: String): Unit =
    bySubject.merge(subject, Vector(id -> schemaJson),
      (have, added) => have.filterNot(_._1 == id) ++ added)

  override def versions(subject: String): Seq[(Int, String)] =
    bySubject.getOrDefault(subject, Vector.empty)
}

object SchemaRegistry {

  /** Evolution mode: re-resolve the schema per micro-batch so a widened
    * schema takes effect mid-stream. Use as the foreachBatch body:
    * {{{ stream.writeStream.foreachBatch(decodeEachBatchWith(reg, topic)(sink)) }}}
    */
  def decodeEachBatchWith(registry: SchemaRegistry, topic: String)(
      handle: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, id) => handle(resolveAndDecodeById(batch, registry, topic), id)

  /** Replay-safe decode: each record is decoded with its WRITER schema,
    * looked up by the Confluent wire-header id (the header exists
    * precisely so consumers can do this), and resolved onto the
    * subject's LATEST schema. The result has [[KafkaCdc.decodeCdc]]'s
    * seven columns; tombstones (null values) give `after = null`.
    *
    * This is what makes a checkpoint REPLAY that spans a schema
    * evolution safe: after a crash the replayed batch still carries
    * old-id bytes while the registry already serves the widened schema,
    * and a decode with the latest schema alone would EOF mid-record on
    * the missing tail field.
    *
    * The subject's versions are snapshotted once, when this is called,
    * and the decode is one projection over that snapshot: building it
    * launches no Spark job. The snapshot is complete for the batch
    * because a producer registers its schema before it writes, so every
    * id in a planned batch is already registered. Consequences:
    *  - a wire id missing from the snapshot fails the batch when it
    *    executes (`IllegalStateException`, "registry has no schema for
    *    wire id N"), not when this is called; the batch still fails
    *    before anything lands;
    *  - a column the latest schema dropped is absent: old-id rows
    *    resolve to the latest shape, and a sink stops updating the
    *    column ([[JdbcUpsertSink]]'s drop semantics);
    *  - a latest-schema field the writer lacks takes its Avro default
    *    (a field with no default fails the batch, naming the field).
    */
  def resolveAndDecodeById(records: DataFrame, registry: SchemaRegistry,
      topic: String): DataFrame = {
    val subject = s"$topic-value"
    val writers = registry.versions(subject)
    val (_, latest) = writers.lastOption.getOrElse(
      throw new IllegalStateException(s"no schema for subject $subject"))
    KafkaCdc.cdcFrame(records,
      AvroCodec.fromConfluentAvroById(col("value"), writers.toMap, latest))
  }
}
