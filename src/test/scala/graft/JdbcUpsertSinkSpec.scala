package graft

import org.apache.spark.JobsDuring
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
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

  test("a same-schema batch is one Spark job and keeps the staging table; " +
    "a new column re-creates it") {
    val url = "jdbc:derby:memory:graft7;create=true"
    val sink = JdbcUpsertSink(url, "steady_latest", "id", "version", "__deleted")
    def batch(v: Long) = Seq((1L, "ann", v, false), (2L, "bob", v, false))
      .toDF("id", "username", "version", "__deleted")
    sink(batch(1L), 0L)
    val staged = tableId(url, "steady_latest_stage")
    val jobs = JobsDuring(spark.sparkContext)(sink(batch(2L), 1L))
    assert(jobs.size === 1, jobs)
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
