package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** ST6 via the REAL arbitrary-state API: the q136 HyperLogLog sketch as
  * a [[StatefulProcessor]] under `transformWithState` (RocksDB state
  * store): engine-managed keyed state that survives checkpoint restarts
  * natively, where the foreachBatch twins in [[Streams]] keep parquet
  * state of their own (reference semantics: the consumer's
  * resume-from-group-offsets loop, main.py:27-55 — here the offsets AND
  * the operator state both live in the checkpoint).
  *
  * State per event_type: the 256 max-rank HLL registers, one byte each
  * (rank ≤ 54 < 2⁷) — a join-semilattice under element-wise max, so
  * arrival order, duplicate delivery, AND batch replay after a crash
  * all fold into the same fixpoint. The (bucket, rank) contributions
  * are computed UPSTREAM by the one-shot query's own column transform
  * ([[graft.operators.EventAnalytics12.hllRanks]]) so the portable hash
  * lives in exactly one place; the processor is pure register max-merge.
  *
  * Per batch it emits each updated key's full register snapshot
  * (event_type, regs) in Update mode; the final emission per key feeds
  * the one-shot estimator tail
  * ([[graft.operators.EventAnalytics12.hllEstimate]]) — golden ≡
  * the registered q136, asserted across a kill/restart and across a
  * crashed-and-replayed batch in `HllTwsSpec`.
  *
  * 100 TB shape: state is 256 bytes × |event types| (trivially
  * bounded); input volume reaches the operator pre-reduced only by the
  * stateless rank projection, and the per-key merge is O(batch rows).
  * A production variant would add map-side partial max-reduction per
  * batch (`groupBy(type, bucket).max(rank)`) before the shuffle —
  * exactly what the q136 batch plan does. */
object HllState {
  val Registers = 256

  /** (event_type, bucket, rank) → per-key register snapshots. */
  class Processor
      extends StatefulProcessor[String, (String, Long, Int), (String, Array[Byte])] {
    @transient private var regs: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getValueState[Array[Byte]](
        "regs", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Int)],
        timerValues: TimerValues): Iterator[(String, Array[Byte])] = {
      val cur =
        if (regs.exists()) regs.get().clone()
        else new Array[Byte](Registers)
      var changed = false
      rows.foreach { case (_, bucket, rank) =>
        val b = bucket.toInt
        if (rank > cur(b)) { cur(b) = rank.toByte; changed = true }
      }
      if (changed || !regs.exists()) regs.update(cur)
      Iterator.single((key, cur))
    }
  }

  /** Wire the processor onto a raw (event_type, user_id) stream:
    * stateless portable-hash rank projection, then keyed state. */
  def hllSketch(events: DataFrame): Dataset[(String, Array[Byte])] = {
    val spark = events.sparkSession
    import spark.implicits._
    graft.operators.EventAnalytics12.hllRanks(events)
      .as[(String, Long, Int)]
      .groupByKey(_._1)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }
}
