package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.JobsDuring
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis3
import graft.streaming.{BatchIndex, Streams}

/** [[BatchIndex]], the per-batch parquet state of the foreachBatch
  * twins: the retry rule, the overwrite, reads of state that does not
  * exist yet, and twins replayed over a first write that was killed
  * before its job committed. */
class BatchIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newDir(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def ids(index: BatchIndex): Set[(Long, String)] =
    index.prior("t", Seq((0L, "")).toDF("id", "tag"))
      .as[(Long, String)].collect().toSet

  private def put(dir: String, b: Long, rows: (Long, String)*): Unit =
    new BatchIndex(dir, b).put("t", rows.toDF("id", "tag"))

  test("prior sees only the batches before this one") {
    val dir = newDir("bix_prior")
    (0L to 2L).foreach(b => put(dir, b, (b, s"b$b")))
    assert(ids(new BatchIndex(dir, 0L)) === Set())
    assert(ids(new BatchIndex(dir, 2L)) === Set((0L, "b0"), (1L, "b1")))
    assert(ids(new BatchIndex(dir, 3L)) === Set((0L, "b0"), (1L, "b1"), (2L, "b2")))
  }

  test("a retried put replaces its partition; the layout is <table>/batch_id=N") {
    val dir = newDir("bix_retry")
    put(dir, 0L, (0L, "first"))
    put(dir, 1L, (1L, "attempt 1"), (2L, "attempt 1"))
    put(dir, 1L, (3L, "attempt 2"))
    assert(ids(new BatchIndex(dir, 2L)) === Set((0L, "first"), (3L, "attempt 2")))
    assert(Files.isDirectory(Paths.get(dir, "t", "batch_id=1")))
  }

  test("a missing table and a _temporary-only table both read empty, " +
    "with the columns of `like` and no Spark job") {
    val dir = newDir("bix_empty")
    val like = Seq((0L, "")).toDF("id", "tag")
    // what a write killed before its job commits leaves behind
    val stray = newDir("bix_stray")
    like.write.mode("overwrite").parquet(stray)
    plantUncommitted(Paths.get(stray), Paths.get(dir, "t"))
    for (table <- Seq("missing", "t")) {
      var read: org.apache.spark.sql.DataFrame = null
      val jobs = JobsDuring(spark.sparkContext) {
        read = new BatchIndex(dir, 1L).prior(table, like)
      }
      assert(jobs.isEmpty, s"$table: building the read launched $jobs")
      assert(read.columns.toSeq === Seq("id", "tag"))
      assert(read.count() === 0L, table)
    }
  }

  /** Copies a part file of the committed write at `from` to
    * `<table>/batch_id=0/_temporary/0/part-0.parquet`, the only trace
    * of a batch-0 write whose job never committed. */
  private def plantUncommitted(from: Path, table: Path): Unit = {
    val tmp = table.resolve("batch_id=0/_temporary/0")
    Files.createDirectories(tmp)
    val parts = Files.list(from).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    Files.copy(parts.head, tmp.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Plants, under the fresh state dir `to`, an uncommitted batch-0
    * write of every table a clean batch 0 wrote under `from`. */
  private def plantAll(from: String, to: String, tables: Seq[String]): Unit =
    tables.foreach(t => plantUncommitted(Paths.get(from, t, "batch_id=0"),
      Paths.get(to, t)))

  test("near-dup replays batch 0 over a killed first write") {
    val docs = Tables.documents(spark, TestSpark.tiny)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (b0, b1) = docs.splitAt(docs.length / 2)
    def run(dir: String, rows: Seq[(Long, String)], bid: Long): Set[(Long, Long)] =
      Streams.nearDupIncrementalBatch(rows.toDF("doc_id", "text"), dir, bid)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val clean = newDir("nd_clean")
    val clean0 = run(clean, b0.toIndexedSeq, 0L)
    val killed = newDir("nd_killed")
    plantAll(clean, killed, Seq("postings", "df", "sets"))
    assert(run(killed, b0.toIndexedSeq, 0L) === clean0)
    assert(run(killed, b1.toIndexedSeq, 1L) === run(clean, b1.toIndexedSeq, 1L))
  }

  test("re-curation replays batch 0 over a killed first write of docs") {
    val flags = TextAnalysis3.curationFlags(spark, TestSpark.tiny)
    val edits = Tables.documents(spark, TestSpark.tiny)
      .filter($"doc_id" % 7 === 3)
      .select($"doc_id", lit(2L).as("version"), lit("too short").as("text"))
    def run(dir: String, bid: Long): Set[(Long, String, String)] =
      Streams.recurationDeltaBatch(edits, dir, bid, flags)
        .as[(Long, String, String)].collect().toSet
    val clean = newDir("recur_clean")
    val clean0 = run(clean, 0L)
    assert(clean0.nonEmpty)
    val killed = newDir("recur_killed")
    plantAll(clean, killed, Seq("docs"))
    assert(run(killed, 0L) === clean0)
  }
}
