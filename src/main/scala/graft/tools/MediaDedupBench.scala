package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Throughput for the media signature-index maintainer
  * ([[Streams.mediaDedupIncrementalBatch]], r14 VERDICT task 2) — the
  * "spec-proven AND measured" bar the transformWithState twins met in
  * r14 (TwsBench). Synthetic signature batches shaped like the phash
  * corpus: content pairs (hash ⊕ one bit within a block) arriving
  * across batches plus a 10% cross-batch redelivery tail, so the
  * measured path exercises the anti-join, the banded candidate join,
  * and the state append — the production shape, not a no-op.
  *
  * Reports docs/sec (signature rows through the maintainer), per-batch
  * p50/max millis, and the cumulative pair count, for each batch size.
  * Appends to committed records/mediadedup.jsonl.
  *
  * Usage: runMain graft.tools.MediaDedupBench [nBatches] [sizes...]
  */
object MediaDedupBench {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(8)
    val sizes = {
      val s = args.drop(1).map(_.toInt)
      if (s.nonEmpty) s.toSeq else Seq(2000, 20000)
    }
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    import spark.implicits._

    def baseHash(c: Long): Long = (c + 1) * 0x9E3779B97F4A7C15L
    def rows(b: Int, per: Int): Seq[(Long, Long, Long)] =
      (0 until per).map { i =>
        val g = b.toLong * per + i
        // every 10th row re-delivers a doc from the prior batch: the
        // cross-batch anti-join must absorb it, not re-pair it
        val id = if (i % 10 == 0 && b > 0) g - per else g
        val c = id / 2
        val h =
          if (id % 2 == 0) baseHash(c)
          else baseHash(c) ^ (1L << (c % 60).toInt)
        (id, (c % 64) + 1, h) // 64 blocks keep buckets realistic
      }

    def pass(per: Int, timed: Boolean): (Seq[Double], Long) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"mediabench_$per").toString
      var pairs = 0L
      val times = (0 until (if (timed) nBatches else 2)).map { b =>
        val df = rows(b, if (timed) per else 200)
          .toDF("doc_id", "block", "hash")
        val t0 = System.nanoTime()
        pairs += Streams.mediaDedupIncrementalBatch(df, dir, b.toLong)
          .filter(col("op") === "add").count()
        (System.nanoTime() - t0) / 1e6
      }
      (times, pairs)
    }

    pass(2000, timed = false) // warm-up: codegen + parquet writer init
    val entries = sizes.map { per =>
      val (ts, pairs) = pass(per, timed = true)
      val s = ts.sorted
      val total = nBatches.toLong * per
      f""""batch_$per":{"docs_per_sec":${total / (ts.sum / 1000)}%.0f,"p50_batch_ms":${s(s.size / 2)}%.1f,"max_batch_ms":${s.last}%.1f,"pairs_emitted":$pairs}"""
    }
    spark.stop()
    val line =
      s"""{"metric":"media_dedup_bench","batches":$nBatches,"tiers":{${entries.mkString(",")}}}"""
    println(line)
    Records.append("records/mediadedup.jsonl", line)
  }
}
