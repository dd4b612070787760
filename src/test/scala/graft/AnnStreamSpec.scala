package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Incremental ANN index: after the last embedding micro-batch the
  * accumulated banded-signature index must answer exactly like the
  * one-shot `sim_ann_lsh`, in sorted AND shuffled arrival order
  * (signatures are row-local, so arrival order cannot matter), and a
  * batch retry must be idempotent. */
class AnnStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def oneShot(): Seq[(Long, Long, Long, Double)] =
    graft.operators.Similarity.annLsh.run(spark, TestSpark.tiny)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  private def collect(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("accumulated index after the last batch ≡ one-shot sim_ann_lsh") {
    import spark.implicits._
    val expected = oneShot()
    val vecs = Tables.embeddings(spark, TestSpark.tiny)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def run(order: IndexedSeq[(Long, Seq[Float])], tag: String)
        : Seq[(Long, Long, Long, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"annidx_$tag")
        .toString + "/state"
      var last: Seq[(Long, Long, Long, Double)] = Seq.empty
      order.grouped(order.length / 3 + 1).zipWithIndex.foreach {
        case (g, bid) =>
          last = collect(Streams.annIncrementalBatch(
            g.toIndexedSeq.toDF("vec_id", "embedding"),
            dir, bid.toLong, numQueries = 10, k = 5))
      }
      last
    }
    assert(run(vecs.sortBy(_._1).toIndexedSeq, "sorted") === expected)
    assert(run(new scala.util.Random(11).shuffle(vecs.toIndexedSeq),
      "shuffled") === expected)
  }

  test("a batch retry is idempotent and intermediate answers are " +
    "subsets of the final index's reach") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, TestSpark.tiny)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy(_._1).toIndexedSeq
    val dir = java.nio.file.Files.createTempDirectory("annidx_retry")
      .toString + "/state"
    val bs = vecs.grouped(vecs.length / 3 + 1).toIndexedSeq
    Streams.annIncrementalBatch(bs(0).toDF("vec_id", "embedding"),
      dir, 0L, 10, 5)
    val after1 = collect(Streams.annIncrementalBatch(
      bs(1).toDF("vec_id", "embedding"), dir, 1L, 10, 5))
    val retried = collect(Streams.annIncrementalBatch(
      bs(1).toDF("vec_id", "embedding"), dir, 1L, 10, 5))
    assert(retried === after1)
    val fin = collect(Streams.annIncrementalBatch(
      bs(2).toDF("vec_id", "embedding"), dir, 2L, 10, 5))
    assert(fin === oneShot())
  }

  test("a vector redelivered in a later batch leaves the answer " +
    "unchanged") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, TestSpark.tiny)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy(_._1).toIndexedSeq
    val dir = java.nio.file.Files.createTempDirectory("annidx_redeliver")
      .toString + "/state"
    val (b0, b1) = vecs.splitAt(vecs.length / 2)
    Streams.annIncrementalBatch(b0.toDF("vec_id", "embedding"), dir, 0L, 10, 5)
    // vec 0 is a query vector: its postings now sit in the index twice
    val fin = collect(Streams.annIncrementalBatch(
      (b0.head +: b1).toDF("vec_id", "embedding"), dir, 1L, 10, 5))
    assert(fin === oneShot())
  }
}
