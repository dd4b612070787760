package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** ST6 via the REAL arbitrary-state API, second operator: the
  * `q137_quantile_sketch` value-count state as a [[StatefulProcessor]]
  * under `transformWithState` (RocksDB state store), following
  * [[HllState]] (reference semantics: the consumer's
  * resume-from-group-offsets loop, main.py:27-55 — offsets AND
  * operator state both live in the checkpoint).
  *
  * State per event_type: a `MapState[Long, Long]` of fixed-point value
  * (v4 = round(value·10⁴)) → running count. Counts are a commutative
  * monoid, so arrival ORDER is free; replay of an uncommitted batch
  * after a crash is absorbed by the state store's per-batch versioning
  * (restart rolls state back to the last committed version before
  * re-processing — exactly-once state, asserted in `QuantileTwsSpec` by
  * a batch that crashes after its state commit and replays). Duplicate
  * delivery of the same logical row in
  * DIFFERENT batches is counted twice — correctly: the one-shot over
  * the concatenated arrivals counts it twice too (that contract stays
  * on the upstream dedup stage, [[Streams.dedupWithinWatermark]]).
  *
  * Per batch it emits ONLY the updated (event_type, v4, new_total)
  * entries in Update mode — O(batch delta), never O(state): the
  * downstream keeps latest-per-(event_type, v4), so re-emitting the
  * untouched tail of a potentially-10⁶-entry MapState per 1-row delta
  * would be semantically identical but O(state) I/O per batch. The
  * union of latest emissions per (key, v4) IS the full value-count
  * relation, and it feeds the IDENTICAL factored estimator tail
  * ([[graft.operators.EventAnalytics13.quantileFromValueCounts]]), so
  * golden ≡ one-shot holds structurally, not by re-implementation.
  *
  * 100 TB shape: state is |distinct v4| × 16 bytes per event type,
  * bounded by the fixed-point domain (value ∈ [0,100] → ≤ 10⁶ entries
  * per key) and held off-heap in RocksDB; the per-batch work is one
  * in-memory delta map (pre-reduced per key before touching the store)
  * plus O(delta) point updates. A production variant would pre-reduce
  * map-side (`groupBy(type, v4).count`) before the shuffle — exactly
  * the one-shot plan's first agg. */
object QuantileState {

  /** (event_type, v4) → per-key full value-count snapshots. */
  class Processor
      extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
    @transient private var vc: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      vc = getHandle.getMapState[Long, Long](
        "vc", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      // pre-reduce the batch in memory so each distinct v4 costs one
      // state-store point read + write, not one per row
      val delta = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { case (_, v4) =>
        delta.update(v4, delta.getOrElse(v4, 0L) + 1L)
      }
      // apply updates EAGERLY (state writes must not hide behind a lazy
      // iterator) and emit only the freshly-written totals
      val out = Vector.newBuilder[(String, Long, Long)]
      delta.foreach { case (v4, c) =>
        val cur = if (vc.containsKey(v4)) vc.getValue(v4) else 0L
        val nu = cur + c
        vc.updateValue(v4, nu)
        out += ((key, v4, nu))
      }
      out.result().iterator
    }
  }

  /** Wire the processor onto a raw (event_type, value) stream:
    * stateless fixed-point projection (the one-shot's own transform),
    * then keyed state. */
  def quantileSketch(events: DataFrame): Dataset[(String, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"),
        floor(col("value") * 10000.0 + 0.5).cast("long").as("v4"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }
}
