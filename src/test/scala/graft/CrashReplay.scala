package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.Assertions._

/** Crash-and-replay harness for the `transformWithState` twins — the
  * state-store form of "a batch retry is idempotent". */
object CrashReplay {

  /** Drives `twin` over `batches` (one micro-batch each, at least two)
    * under RocksDB state with a fresh checkpoint, and returns every row
    * of every successful delivery in delivery order. Batch 1's first
    * delivery collects its output — which runs the stateful operator, so
    * the state store commits batch 1's new version — and then throws
    * before the batch commits (the `CrashRecoverySpec` pattern). The
    * query restarts from the same checkpoint, which replays batch 1
    * against the state version it first saw, and the remaining batches
    * follow. A twin whose state escapes the store's versioning counts
    * batch 1 twice. */
  def run[A: Encoder, T](batches: Seq[Seq[A]])(
      twin: Dataset[A] => Dataset[T]): Seq[T] = {
    require(batches.length >= 2, "batch 1 must exist to crash it")
    implicit val ctx: SQLContext = TestSpark.spark.sqlContext
    val in = MemoryStream[A]
    val ckpt = java.nio.file.Files.createTempDirectory("tws_replay").toString
    val emitted = ArrayBuffer.empty[T]
    val delivered = ArrayBuffer.empty[Long]
    var failedAttemptRows = -1
    def start() = twin(in.toDS()).writeStream
      .foreachBatch { (b: Dataset[T], id: Long) =>
        val rows = b.collect()
        delivered += id
        if (id == 1L && failedAttemptRows < 0) {
          failedAttemptRows = rows.length
          throw new RuntimeException("injected crash after batch 1's state commit")
        }
        emitted ++= rows
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    TestSpark.withRocksDbState {
      var q = start()
      batches.zipWithIndex.foreach { case (b, i) =>
        in.addData(b: _*)
        if (i == 1) {
          assertThrows[StreamingQueryException](q.processAllAvailable())
          q = start() // restart from the same checkpoint: batch 1 replays
        }
        q.processAllAvailable()
      }
      q.stop()
    }
    assert(delivered.toSeq === 0L +: 1L +: (1L until batches.length),
      "batch 1 must be delivered twice, every other batch once")
    assert(failedAttemptRows > 0,
      "the crashed attempt must have run the stateful operator")
    emitted.toSeq
  }
}
