package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Loaders for the driver-provisioned parquet tables (TESTDATA.md) plus
  * shared numeric helpers.
  *
  * Oracle-parity note: money columns are doubles holding 2-decimal values.
  * Summing doubles is order-dependent (Spark partition order differs from
  * DuckDB's scan order), so every oracle-checked aggregate first casts to
  * an exact decimal, aggregates exactly, and casts the final scalar back to
  * double — bit-identical in both engines regardless of execution order.
  */
object Tables {
  /** Declared schema of every driver table — the source of truth for
    * column names, order and types (FIXTURES.md §2). Each equals what
    * Spark infers from the files (TableSchemaSpec asserts it per data
    * directory, nullability included), so reading with it yields the
    * same plans as inference without launching a footer-reading job per
    * load. The timestamp columns are parquet TIMESTAMP(MICROS) without
    * UTC adjustment, which Spark types as TIMESTAMP_NTZ. */
  val Schemas: Map[String, StructType] = Map(
    "region"     -> "r_regionkey INT, r_name STRING",
    "nation"     -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer"   -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier"   -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part"       -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders"     -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem"   -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events"     -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents"  -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
  ).view.mapValues(StructType.fromDDL).toMap

  /** Reads `name` under its declared schema. A file whose footer
    * disagrees makes the scan throw; nothing falls back to inference. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts is stored as wall-clock µs (TIMESTAMP_NTZ); normalize it
    * to session-UTC TimestampType so every downstream query and the
    * oracle see identical µs values. */
  def events(s: SparkSession, d: String): DataFrame =
    table(s, d, "events").withColumn("ts", col("ts").cast("timestamp"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** money: 2-decimal doubles → exact decimal */
  val Money: DecimalType = DecimalType(18, 2)
  /** rates (discount/tax): 2-decimal in [0,1] */
  val Rate: DecimalType = DecimalType(4, 2)
  /** event values: ≤4-decimal doubles */
  val Val4: DecimalType = DecimalType(18, 4)

  def money(c: Column): Column = c.cast(Money)
  def rate(c: Column): Column  = c.cast(Rate)
  def val4(c: Column): Column  = c.cast(Val4)

  /** exact decimal sum, surfaced as double (deterministic across engines) */
  def dsum(c: Column): Column = sum(c).cast("double")
  /** exact average = exact decimal sum / count, one double division */
  def davg(c: Column): Column = sum(c).cast("double") / count(lit(1))
}
