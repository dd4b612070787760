package graft

import java.math.BigDecimal
import java.sql.{Date, Timestamp}

import org.apache.spark.{JobsDuring, ListenerBusDrain}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcUpsertSink

/** S9 JDBC landing path: staged MERGE upserts into embedded Derby —
  * version-gated updates, tombstone deletes, idempotent replay. */
class JdbcUpsertSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def readTable(url: String, table: String) =
    spark.read.jdbc(url, "\"" + table + "\"", new java.util.Properties)

  /** Derby's id for `table`: a DROP and re-CREATE gives it a new one. */
  private def tableId(url: String, table: String): String = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT TABLEID FROM SYS.SYSTABLES WHERE TABLENAME = '$table'")
      try { assert(rs.next(), s"$table missing"); rs.getString(1) }
      finally rs.close()
    } finally c.close()
  }

  test("one key's versions and ties spread over partitions land as latest-per-key") {
    val url = "jdbc:derby:memory:graft6;create=true"
    val sink = JdbcUpsertSink(url, "parts_latest", "id", "version", "__deleted")
    sink(Seq((1L, "a0", 0L, false), (3L, "c0", 0L, false))
      .toDF("id", "username", "version", "__deleted"), 0L)
    // three slices of three rows: id 1 has a version in every slice, id 2
    // the same (version, row) in two slices, and id 3's newest row, in
    // the middle slice, is a tombstone
    val rows = Seq(
      (1L, "a1", 1L, false), (2L, "b", 5L, false), (3L, "c1", 1L, false),
      (1L, "a3", 3L, false), (2L, "b", 5L, false), (3L, "c4", 4L, true),
      (1L, "a2", 2L, false), (3L, "c2", 2L, false), (4L, "d1", 1L, false))
    val batch = spark.sparkContext.parallelize(rows, 3)
      .toDF("id", "username", "version", "__deleted")
    val spread = batch.withColumn("part", spark_partition_id())
      .groupBy("id").agg(countDistinct("part"))
      .as[(Long, Long)].collect().toMap
    assert(spread(1L) === 3L && spread(2L) === 2L && spread(3L) === 3L)

    sink(batch, 1L)
    val expected = (Seq((1L, "a0", 0L, false), (3L, "c0", 0L, false)) ++ rows)
      .groupBy(_._1).values.map(_.maxBy(_._3))
      .collect { case (id, u, v, false) => (id, u, v) }.toSet
    assert(expected === Set((1L, "a3", 3L), (2L, "b", 5L), (4L, "d1", 1L)))
    def landed = readTable(url, "parts_latest")
      .select("id", "username", "version")
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(landed === expected.toSeq.sorted)
    // at-least-once replay of the same batch: state unchanged
    sink(batch, 1L)
    assert(landed === expected.toSeq.sorted)
  }

  /** The logical plans of the queries Spark reports finished or failed
    * while `body` runs: any action or command, the JDBC writer's
    * `SaveIntoDataSourceCommand` among them. */
  private def queriesDuring(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.logical.getClass.getName)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.logical.getClass.getName)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  /** Runs `body` with every sort spilling each two rows, so sorted rows
    * come back through the spill reader's reused buffer. */
  private def withSortSpills[T](body: => T): T = {
    val conf = org.apache.spark.SparkEnv.get.conf
    val key = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val prior = conf.getOption(key)
    conf.set(key, "2")
    try body finally prior.fold(conf.remove(key))(conf.set(key, _))
  }

  test("every column type and NULL round-trips; a string key deduplicates " +
    "within and across partitions") {
    val url = "jdbc:derby:memory:graft8;create=true"
    // Derby cannot index or compare the CLOB a string maps to by default
    val props = new java.util.Properties
    props.setProperty("createTableColumnTypes", "k VARCHAR(32)")
    val sink = JdbcUpsertSink(url, "types_latest", "k", "version", "__deleted", props)
    val schema = new StructType()
      .add("k", StringType).add("version", LongType).add("__deleted", BooleanType)
      .add("i", IntegerType).add("l", LongType).add("d", DoubleType)
      .add("b", BooleanType).add("s", StringType).add("ts", TimestampType)
      .add("dt", DateType).add("dec", DecimalType(10, 2)).add("bin", BinaryType)
    def full(k: String, v: Long, n: Int) = Row(k, v, false, n, n * 10000000000L,
      n + 0.25, n % 2 == 0, s"s$n-é", new Timestamp(1700000000000L + n * 1000L + 123),
      Date.valueOf(s"2024-01-${10 + n}"), new BigDecimal(s"$n.45"), Array[Byte](n.toByte, 0, -1))
    def nulls(k: String, v: Long) = Row(k, v, false, null, null, null, null, null,
      null, null, null, null)
    // three slices of four rows; keys repeat within and across slices.
    // Sorting with a spill every two rows, the middle slice merges its
    // spilled (delta 1, gamma 1) with its in-memory (gamma 9, omega 2):
    // when the spill reader moves on to gamma 1, an uncopied "delta"
    // would read "gamma" and drop gamma 9
    val rows = Seq(
      full("alpha", 3L, 3), full("beta", 1L, 1), nulls("beta", 9L), full("alpha", 2L, 2),
      full("delta", 1L, 4), full("gamma", 1L, 5), full("gamma", 9L, 6), full("omega", 2L, 7),
      full("beta", 4L, 8), full("alpha", 1L, 9), nulls("omega", 5L), full("delta", 3L, 1))
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    assert(batch.withColumn("p", spark_partition_id()).groupBy("k")
      .agg(countDistinct("p")).as[(String, Long)].collect().toMap ===
      Map("alpha" -> 2L, "beta" -> 2L, "delta" -> 2L, "gamma" -> 1L, "omega" -> 2L))
    // a key that starts a run must outlive the row it was read from
    withSortSpills(sink(batch, 0L))

    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case v => v
    }
    val cols = schema.fieldNames.filterNot(_ == "__deleted")
    val expected = rows.groupBy(_.getString(0)).values.map(_.maxBy(_.getLong(1)))
      .map(r => norm(Row.fromSeq(cols.map(c => r.get(schema.fieldIndex(c)))))).toSet
    def landed = readTable(url, "types_latest").select(cols.map(col): _*)
      .collect().map(norm).toSet
    assert(expected.size === 5)
    assert(landed === expected)
    sink(batch, 0L)
    assert(landed === expected)
  }

  test("a same-schema batch is one Spark job and keeps the staging table; " +
    "a new column re-creates it") {
    val url = "jdbc:derby:memory:graft7;create=true"
    val sink = JdbcUpsertSink(url, "steady_latest", "id", "version", "__deleted")
    def batch(v: Long) = Seq((1L, "ann", v, false), (2L, "bob", v, false))
      .toDF("id", "username", "version", "__deleted")
    sink(batch(1L), 0L)
    val staged = tableId(url, "steady_latest_stage")
    var jobs = Seq.empty[org.apache.spark.StartedJob]
    val queries = queriesDuring {
      jobs = JobsDuring(spark.sparkContext)(sink(batch(2L), 1L))
    }
    assert(jobs.size === 1, jobs)
    assert(!queries.contains(classOf[SaveIntoDataSourceCommand].getName), queries)
    assert(tableId(url, "steady_latest_stage") === staged)
    sink(batch(3L), 2L)
    assert(tableId(url, "steady_latest_stage") === staged)

    sink(Seq((1L, "ann", 4L, false, "a@x.io"))
      .toDF("id", "username", "version", "__deleted", "email"), 3L)
    assert(tableId(url, "steady_latest_stage") !== staged)
    assert(readTable(url, "steady_latest")
      .select("id", "version", "email")
      .as[(Long, Long, Option[String])].collect().toSet ===
      Set((1L, 4L, Some("a@x.io")), (2L, 3L, None)))
  }

  test("merge applies upserts, version gating, and tombstone deletes") {
    val url = "jdbc:derby:memory:graft1;create=true"
    val sink = JdbcUpsertSink(url, "users_latest", "id", "version", "__deleted")

    val b1 = Seq(
      (1L, "ann", 10L, false),
      (2L, "bob", 11L, false),
      (3L, "cat", 12L, false))
      .toDF("id", "username", "version", "__deleted")
    sink(b1, 0L)
    // update id=1 (newer), stale update id=2 (older — must NOT apply),
    // delete id=3, insert id=4; also a within-batch older duplicate of 4
    val b2 = Seq(
      (1L, "ann2", 20L, false),
      (2L, "bob_stale", 5L, false),
      (3L, "cat", 13L, true),
      (4L, "dee_old", 14L, false),
      (4L, "dee", 15L, false))
      .toDF("id", "username", "version", "__deleted")
    sink(b2, 1L)

    val got = readTable(url, "users_latest")
      .select("id", "username", "version")
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "ann2", 20L), (2L, "bob", 11L), (4L, "dee", 15L)))

    // at-least-once replay of the same batch: state unchanged
    sink(b2, 1L)
    val replayed = readTable(url, "users_latest")
      .select("id", "username", "version")
      .as[(Long, String, Long)].collect().toSet
    assert(replayed === got)
  }

  test("target schema evolves when the stream gains a column") {
    val url = "jdbc:derby:memory:graft3;create=true"
    val sink = JdbcUpsertSink(url, "ev_latest", "id", "version", "__deleted")
    val b1 = Seq((1L, "ann", 1L, false))
      .toDF("id", "username", "version", "__deleted")
    sink(b1, 0L)
    // upstream table gained an email column mid-stream
    val b2 = Seq((1L, "ann", 2L, false, "a@x.io"), (2L, "bob", 3L, false, "b@x.io"))
      .toDF("id", "username", "version", "__deleted", "email")
    sink(b2, 1L)
    val got = readTable(url, "ev_latest")
      .select("id", "username", "email")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got === Set((1L, "ann", Some("a@x.io")), (2L, "bob", Some("b@x.io"))))
  }

  test("a pre-existing index-less target gains the key index on resume " +
    "(r13 ADVICE: the upgrade/recovery path kept the nested-loop cliff)") {
    val url = "jdbc:derby:memory:graft4;create=true"
    // simulate a target created by pre-index code: table exists, no index
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE "old_latest" ("id" BIGINT, "username" VARCHAR(64), "version" BIGINT)""")
      st.close()
    } finally conn.close()
    def keyIndexed: Boolean = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.getMetaData.getIndexInfo(null, null, "old_latest", false, false)
        try {
          var found = false
          while (!found && rs.next())
            found = rs.getShort("ORDINAL_POSITION") == 1 &&
              "id".equalsIgnoreCase(rs.getString("COLUMN_NAME"))
          found
        } finally rs.close()
      } finally c.close()
    }
    assert(!keyIndexed)
    val sink = JdbcUpsertSink(url, "old_latest", "id", "version", "__deleted")
    val b1 = Seq((1L, "ann", 1L, false))
      .toDF("id", "username", "version", "__deleted")
    sink(b1, 0L)
    assert(keyIndexed)
    // second batch must not trip a duplicate-index CREATE
    sink(Seq((1L, "ann2", 2L, false))
      .toDF("id", "username", "version", "__deleted"), 1L)
    assert(readTable(url, "old_latest")
      .select("id", "username").as[(Long, String)].collect().toSet ===
      Set((1L, "ann2")))
  }

  test("a pre-existing index NAMED <table>_key_idx on a different column " +
    "does not kill the sink with a duplicate-name CREATE (r14 ADVICE)") {
    val url = "jdbc:derby:memory:graft5;create=true"
    // a target whose _key_idx name is already taken by a non-key index:
    // the create-if-absent path must treat the name as present instead
    // of throwing a duplicate-name SQLException on every resume
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE "named_latest" ("id" BIGINT, "username" VARCHAR(64), "version" BIGINT)""")
      st.executeUpdate(
        """CREATE INDEX "named_latest_key_idx" ON "named_latest"("username")""")
      st.close()
    } finally conn.close()
    val sink = JdbcUpsertSink(url, "named_latest", "id", "version", "__deleted")
    // both batches would previously die in CREATE INDEX; they must land
    sink(Seq((1L, "ann", 1L, false))
      .toDF("id", "username", "version", "__deleted"), 0L)
    sink(Seq((1L, "ann2", 2L, false))
      .toDF("id", "username", "version", "__deleted"), 1L)
    assert(readTable(url, "named_latest")
      .select("id", "username").as[(Long, String)].collect().toSet ===
      Set((1L, "ann2")))
  }

  test("drives from a stream via foreachBatch") {
    val url = "jdbc:derby:memory:graft2;create=true"
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, Boolean)]
    in.addData((1L, "x", 1L, false), (2L, "y", 2L, false), (1L, "x2", 3L, false))
    val q = in.toDF().toDF("id", "username", "version", "__deleted")
      .writeStream
      .foreachBatch(JdbcUpsertSink(url, "t_latest", "id", "version", "__deleted"))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("jdbc_sink_ckpt").toString)
      .start()
    q.awaitTermination(60000)
    val got = readTable(url, "t_latest")
      .select("id", "username").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "x2"), (2L, "y")))
  }
}
