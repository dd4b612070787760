package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{KlState, SurvivalState}

/** transformWithState throughput micro-bench (r13 VERDICT task 4): the
  * five RocksDB twins have kill/restart correctness proofs but no
  * recorded events/s or per-batch latency. This drives the SAME wiring
  * the specs prove — [[SurvivalState.survivalState]] (the ValueState
  * join-semilattice twin) and [[KlState.klWordCounts]] (the MapState
  * twin with the stateful doc-dedup gate) — through checkpointed
  * MemoryStream queries against the RocksDB state store, at two batch
  * sizes each, so the per-batch state-store cost curve is measured
  * rather than assumed.
  *
  * Workload shape mirrors [[StreamBench]]'s: keys cycle over a space
  * 4× smaller than the total row count (update-heavy tail — most
  * batches hit EXISTING RocksDB entries), and the KL stream
  * re-delivers ~10% of each batch's documents from the PRIOR batch, so
  * the seen-docs MapState gate pays its read cost on every batch (the
  * contract the twin exists for, not a no-op path). Each batch is
  * timed individually (addData → processAllAvailable): p50/max are
  * real per-batch latencies. One untimed warm-up query per twin
  * absorbs codegen/provider init.
  *
  * Usage: runMain graft.tools.TwsBench [nBatches size1 size2]
  * Prints one JSON line.
  */
object TwsBench {

  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(10)
    val sizes = {
      val s = args.drop(1).map(_.toInt)
      if (s.nonEmpty) s.toSeq else Seq(2000, 20000)
    }
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val Base = 1704067200000000L // 2024-01-01T00:00Z µs
    val Min = 60000000L

    /** one timed pass: per-batch millis for a started streaming query */
    def drive[A](mem: MemoryStream[A], q: org.apache.spark.sql.streaming.StreamingQuery,
        rows: Int => Seq[A]): Seq[Double] = {
      val times = (0 until nBatches).map { b =>
        mem.addData(rows(b))
        val t0 = System.nanoTime()
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e6
      }
      q.stop()
      times
    }

    /** survival twin: (user_id, event_type, µs) rows, update-heavy keys */
    def survivalPass(rowsPer: Int, timed: Boolean): Seq[Double] = {
      val keySpace = math.max(1L, rowsPer.toLong * nBatches / 4)
      val mem = MemoryStream[(Long, String, Long)]
      val events = mem.toDF.toDF("user_id", "event_type", "us")
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
      val q = SurvivalState.survivalState(events)
        .writeStream
        .foreachBatch(
          (b: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)],
              _: Long) => { b.count(); () })
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("tws_surv").toString)
        .start()
      val types = Array("signup", "purchase", "view")
      def rows(b: Int): Seq[(Long, String, Long)] =
        (0 until (if (timed) rowsPer else 100)).map { i =>
          val g = b.toLong * rowsPer + i
          ((g * 2654435761L) % keySpace, types((g % 3).toInt), Base + g * Min)
        }
      drive(mem, q, rows)
    }

    /** KL twin: (source, doc_id, text) docs; ~10% prior-batch redelivery */
    def klPass(rowsPer: Int, timed: Boolean): Seq[Double] = {
      val mem = MemoryStream[(String, Long, String)]
      val q = KlState.klWordCounts(
          mem.toDF.toDF("source", "doc_id", "text"))
        .writeStream
        .foreachBatch(
          (b: org.apache.spark.sql.Dataset[(String, String, Long)],
              _: Long) => { b.count(); () })
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("tws_kl").toString)
        .start()
      def text(g: Long): String =
        (0 until 20).map(j => s"w${(g * 7 + j) % 997}").mkString(" ")
      def rows(b: Int): Seq[(String, Long, String)] =
        (0 until (if (timed) rowsPer else 100)).map { i =>
          val g = b.toLong * rowsPer + i
          // every 10th row re-delivers a doc from the PRIOR batch: the
          // seen-docs gate must absorb it via a state read, not emit
          val id = if (i % 10 == 0 && b > 0) g - rowsPer else g
          (s"src_${g % 4}", id, text(id))
        }
      drive(mem, q, rows)
    }

    def stats(ts: Seq[Double]): (Double, Double, Double) = {
      val s = ts.sorted
      (s(s.size / 2), s.last, ts.sum)
    }

    // untimed warm-ups absorb codegen + RocksDB provider init
    survivalPass(100, timed = false)
    klPass(100, timed = false)

    val entries = sizes.flatMap { n =>
      val su = stats(survivalPass(n, timed = true))
      val kl = stats(klPass(n, timed = true))
      val total = nBatches.toLong * n
      Seq(
        f""""survival_$n":{"events_per_sec":${total / (su._3 / 1000)}%.0f,"p50_batch_ms":${su._1}%.1f,"max_batch_ms":${su._2}%.1f}""",
        f""""kl_$n":{"events_per_sec":${total / (kl._3 / 1000)}%.0f,"p50_batch_ms":${kl._1}%.1f,"max_batch_ms":${kl._2}%.1f}""")
    }
    spark.stop()
    val line =
      s"""{"metric":"tws_bench","batches":$nBatches,"twins":{${entries.mkString(",")}}}"""
    println(line)
    // committed artifact trail (r14 VERDICT task 4)
    Records.append("records/twsbench.jsonl", line)
  }
}
