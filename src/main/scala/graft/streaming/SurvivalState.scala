package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** ST6 via the REAL arbitrary-state API, third operator: the
  * `q143_survival_km` Kaplan–Meier per-user state as a
  * [[StatefulProcessor]] under `transformWithState` (RocksDB state
  * store), following [[HllState]] and [[QuantileState]] (reference
  * semantics: the consumer's resume-from-group-offsets loop,
  * main.py:27-55 — offsets AND operator state both live in the
  * checkpoint).
  *
  * State per user: (min signup µs, min purchase µs, max event µs) with
  * `Long.MaxValue` / `Long.MinValue` sentinels for "none yet" — a
  * JOIN-SEMILATTICE under element-wise (min, min, max), so arrival
  * ORDER, DUPLICATE DELIVERY, and batch replay after a crash ALL fold
  * into the same fixpoint (the HLL twin's contract, strictly stronger
  * than the count-monoid quantile twin, which tolerates replay but not
  * cross-batch duplicates). `SurvivalTwsSpec` asserts golden ≡ one-shot
  * across a kill/restart with duplicate users spanning the boundary,
  * and ≡ the registered q143 across a crashed-and-replayed batch.
  *
  * Per batch each updated user emits its merged (s, p, t) snapshot —
  * one row per updated key, O(batch keys) not O(state); the downstream
  * keeps latest-per-user and feeds the IDENTICAL factored estimator
  * tail ([[graft.operators.EventAnalytics14.survivalFromState]] — the
  * censoring end is max(t) over the latest snapshots, exactly the
  * one-shot's `mx`), so golden ≡ one-shot holds structurally, not by
  * re-implementation.
  *
  * 100 TB shape: state is 24 bytes per user held off-heap in RocksDB;
  * each batch pre-reduces its rows per key in one fold before touching
  * the store (one point read + one point write per updated user). A
  * production variant would pre-reduce map-side
  * (`groupBy(user).agg(min, min, max)`) before the shuffle — exactly
  * the one-shot plan's first agg. */
object SurvivalState {
  /** "no signup/purchase seen" for the min fields */
  val NoMin: Long = Long.MaxValue
  /** "no event seen" for the max field */
  val NoMax: Long = Long.MinValue

  /** (user_id, signup-µs-or-NoMin, purchase-µs-or-NoMin, event-µs) →
    * per-user merged (s, p, t) snapshots. */
  class Processor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, Long, Long, Long)] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)](
        "spt", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
      // pre-reduce the batch in memory: one state read + write per key
      var (bs, bp, bt) = (NoMin, NoMin, NoMax)
      rows.foreach { case (_, s, p, t) =>
        if (s < bs) bs = s
        if (p < bp) bp = p
        if (t > bt) bt = t
      }
      val (cs, cp, ct) = if (st.exists()) st.get() else (NoMin, NoMin, NoMax)
      val merged = (math.min(cs, bs), math.min(cp, bp), math.max(ct, bt))
      if (merged != (cs, cp, ct) || !st.exists()) st.update(merged)
      Iterator.single((key, merged._1, merged._2, merged._3))
    }
  }

  /** Wire the processor onto a raw (user_id, event_type, ts) stream:
    * stateless µs projection with sentinel-coded signup/purchase
    * columns (the one-shot's own `when` transform), then keyed state. */
  def survivalState(events: DataFrame): Dataset[(Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        coalesce(when(col("event_type") === "signup",
          unix_micros(col("ts"))), lit(NoMin)).as("s"),
        coalesce(when(col("event_type") === "purchase",
          unix_micros(col("ts"))), lit(NoMin)).as("p"),
        unix_micros(col("ts")).as("t"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }
}
