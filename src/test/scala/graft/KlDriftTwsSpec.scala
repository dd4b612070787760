package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.KlState

/** ST6 on the real arbitrary-state API, fourth operator: the
  * `transformWithState` KL word-count state with TWO RocksDB-backed
  * `MapState` variables per source key — seen-docs (the duplicate-
  * delivery gate) + word counts. Golden ≡ one-shot across a query
  * KILL + RESTART, with the SAME documents re-delivered in batches
  * on both sides of the boundary: the seen-doc state, not a per-batch
  * aggregation, must absorb them. Real corpus text, so the Scala
  * tokenizer mirror is proven against the Column pipeline too. And ≡
  * the registered `text_kl_drift` across a crashed-and-replayed batch,
  * in sorted and shuffled arrival order. */
class KlDriftTwsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tail(wc: org.apache.spark.sql.DataFrame) =
    graft.operators.TextAnalysis6.klFromCounts(wc)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq

  test("tokens mirrors split(trim(text), ' ') exactly") {
    val cases = Seq("", " ", "  a  b ", "a b", " a\tb c ", "x  y",
      "tab\there", "trail ", " lead")
    val viaColumn = cases.toDF("t")
      .select(split(trim(col("t")), " ").as("w"))
      .collect().map(_.getSeq[String](0).toList)
    val viaScala = cases.map(KlState.tokens(_).toList)
    assert(viaScala === viaColumn.toSeq)
  }

  test("transformWithState KL counts survive restart + cross-boundary redelivery") {
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("kl_tws_ckpt").toString

    // real corpus docs: the tokenizer parity matters on real text
    val docs = spark.read
      .parquet(s"${TestSpark.tiny}/documents.parquet")
      .select(col("source"), col("doc_id").cast("long"), col("text"))
      .as[(String, Long, String)].collect().toSeq.sortBy(_._2).take(80)

    // batch1: docs 0..49. batch2 (after the kill): docs 30..79 — 20
    // docs re-delivered ACROSS the restart boundary — plus doc 10
    // re-delivered a second time two batches later, plus a same-batch
    // duplicate of doc 60.
    val batch1 = docs.slice(0, 50)
    val batch2 = docs.slice(30, 80) ++ Seq(docs(10), docs(60))

    val in = MemoryStream[(String, Long, String)]
    @volatile var snap = Map.empty[(String, String), Long]
    def start() = KlState
      .klWordCounts(in.toDF.toDF("source", "doc_id", "text"))
      .writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[(String, String, Long)], _: Long) =>
          b.collect().foreach { case (s, w, c) => snap += (s, w) -> c }
      }
      .option("checkpointLocation", ckpt)
      .start()

    TestSpark.withRocksDbState {
      val q1 = start()
      in.addData(batch1: _*)
      q1.processAllAvailable()
      q1.stop() // kill between batches; offsets + RocksDB state checkpointed

      val q2 = start() // restart from the same checkpoint
      in.addData(batch2: _*)
      q2.processAllAvailable()
      q2.stop()
    }

    // one-shot: each doc counted ONCE (the oneRowPerKey contract)
    val oneShot = (batch1 ++ batch2).toDF("source", "doc_id", "text")
      .dropDuplicates("doc_id")
      .select(col("source"),
        explode(graft.operators.TextAnalysis.words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))

    val streamed = snap.toSeq.map { case ((s, w), c) => (s, w, c) }
      .toDF("source", "w", "c")
    val expectedRows = oneShot.as[(String, String, Long)].collect().toSet
    val gotRows = streamed.as[(String, String, Long)].collect().toSet
    assert(gotRows === expectedRows,
      "re-delivered docs (same batch, later batch, across the restart) " +
        "must each count exactly once")

    // …and the IDENTICAL smoothed-KL tail must agree end-to-end
    assert(tail(streamed) === tail(oneShot))
  }

  test("a crashed batch replays without double-counting; drift ≡ the " +
    "registered text_kl_drift, sorted and shuffled arrival") {
    val expected = graft.operators.TextAnalysis6.klDrift
      .run(spark, TestSpark.tiny)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val docs = Tables.documents(spark, TestSpark.tiny)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)].collect().sortBy(_._2).toSeq
    def drift(order: Seq[(String, Long, String)]) = {
      val emitted = CrashReplay.run(order.grouped(order.length / 3 + 1).toSeq)(
        ds => KlState.klWordCounts(ds.toDF("source", "doc_id", "text")))
      tail(emitted.map { case (s, w, c) => (s, w) -> c }.toMap.toSeq
        .map { case ((s, w), c) => (s, w, c) }.toDF("source", "w", "c"))
    }
    assert(drift(docs) === expected, "sorted arrival")
    assert(drift(new scala.util.Random(7).shuffle(docs)) === expected,
      "shuffled arrival")
  }
}
