package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** ST6 via the REAL arbitrary-state API, fifth operator: the
  * `q92_delta_sum` per-user counter state as a [[StatefulProcessor]]
  * under `transformWithState` (RocksDB state store).
  *
  * This is the first ORDER-DEPENDENT twin. The four before it fold
  * commutatively (HLL and Kaplan–Meier are join-semilattices; the
  * quantile and KL states are count monoids), so arrival order was
  * free. deltaSum is a fold over CONSECUTIVE readings in (ts,
  * event_id) order — `sum(max(0, v_i − v_{i−1}))` — so the state must
  * carry the last seen value per user, each batch must be applied in
  * in-batch order (rows are sorted here before folding), and batches
  * must arrive in per-user time order (the documented sorted-arrival
  * contract: a CDC/event stream delivers each key's changes in commit
  * order — reference semantics: per-partition Kafka ordering,
  * main.py:27-55). What the engine's checkpoint provides is exactly
  * what an order-dependent fold needs: state rolls back to the last
  * committed batch version on crash, so an uncommitted batch REPLAYS
  * against the same (n, acc, last) it first saw — `DeltaSumTwsSpec`
  * kills the query between batches, crashes one batch after its state
  * commit so that it replays, and proves the fold continues as if
  * uninterrupted. Cross-batch duplicate delivery is out of contract
  * (as for the quantile twin — that stage is
  * [[Streams.dedupWithinWatermark]]); a duplicate row would read as a
  * zero-increase step, which is why the CONSECUTIVE-pair fold is still
  * safer under redelivery than a plain sum would be.
  *
  * State per user: (n_events, acc4, last_v4) — 24 bytes off-heap.
  * Emission is one (user, n, acc4) snapshot per updated user per
  * batch; latest-per-user ÷ 10⁴ is the q92 relation. */
object DeltaSumState {

  /** (user_id, ts-µs, event_id, v4) → per-user (user, n_events, acc4). */
  class Processor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)](
        "nal", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      // in-batch order is imposed HERE (iterator order is shuffle
      // order): sort by (ts, event_id) — the one-shot's window order
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      var (n, acc, last) =
        if (st.exists()) st.get() else (0L, 0L, Long.MinValue)
      var hasLast = n > 0L
      sorted.foreach { case (_, _, _, v4) =>
        if (hasLast && v4 > last) acc += v4 - last
        last = v4
        hasLast = true
        n += 1L
      }
      st.update((n, acc, last))
      Iterator.single((key, n, acc))
    }
  }

  /** Wire the processor onto a raw (user_id, ts, event_id, value)
    * stream: the one-shot's own ×10⁴ fixed-point projection, then
    * keyed ordered state. Latest emission per user ÷ 10⁴ = q92. */
  def deltaSum(events: DataFrame): Dataset[(Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("t"),
        col("event_id").cast("long"),
        floor(col("value") * 10000.0 + 0.5).cast("long").as("v4"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }
}
