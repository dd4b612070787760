package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues}

/** ST6 via the REAL arbitrary-state API, fourth operator: the
  * `text_kl_drift` per-source word-count state as a
  * [[StatefulProcessor]] under `transformWithState` (RocksDB state
  * store), following [[HllState]] / [[QuantileState]] /
  * [[SurvivalState]] (reference semantics: the consumer's
  * resume-from-group-offsets loop, main.py:27-55).
  *
  * What this twin adds over the quantile one (same count monoid): each
  * document counts once no matter how often the CDC stream re-delivers
  * it, and that contract lives INSIDE the checkpointed state: a second
  * `MapState` of seen doc ids gates the count update, so a document
  * re-delivered in a LATER batch — including one that arrives on the
  * far side of a kill/restart — is absorbed by state that survived the
  * checkpoint, not by a per-batch aggregation. Two state variables
  * under one key is exactly what the arbitrary-state API exists for.
  *
  * Per batch it emits ONLY the updated (source, word, new_total)
  * entries in Update mode — O(batch delta), never O(vocabulary) (the
  * r12 QuantileState lesson). The union of latest emissions per
  * (source, word) IS the full count relation and feeds the IDENTICAL
  * smoothed-KL tail (`TextAnalysis6.klFromCounts`), so golden ≡
  * one-shot holds structurally.
  *
  * 100 TB shape: state per source = |seen docs| × 9 B + |vocabulary| ×
  * (word + 8 B), both corpus-bounded and off-heap in RocksDB; per-batch
  * work is an in-memory delta map plus O(delta) point reads/writes. At
  * production scale the seen-doc set would carry a TTL matched to the
  * redelivery horizon (Kafka retention) instead of TTLConfig.NONE. */
object KlState {

  /** Exact Scala mirror of `TextAnalysis.words` =
    * `split(trim(text), " ")`: Spark `trim` strips ASCII spaces only
    * (Java's `String.trim` also eats tabs/newlines — wrong twin), and
    * Spark `split` keeps interior/trailing empties (Scala's 1-arg
    * `split` drops trailing ones — also wrong). `KlDriftTwsSpec`
    * asserts parity against the Column pipeline on real corpus text. */
  private[graft] def tokens(text: String): Array[String] = {
    var i = 0
    var j = text.length
    while (i < j && text.charAt(i) == ' ') i += 1
    while (j > i && text.charAt(j - 1) == ' ') j -= 1
    text.substring(i, j).split(" ", -1)
  }

  /** key = source; rows = (source, doc_id, text); out = per-batch
    * updated (source, word, running count) deltas. */
  class Processor
      extends StatefulProcessor[String, (String, Long, String),
        (String, String, Long)] {
    @transient private var seen: MapState[Long, Boolean] = _
    @transient private var wc: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean](
        "seen", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      wc = getHandle.getMapState[String, Long](
        "wc", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String)],
        timerValues: TimerValues): Iterator[(String, String, Long)] = {
      // batch-local doc dedup first (same-batch re-delivery), then the
      // stateful gate (cross-batch / cross-restart re-delivery)
      val delta = scala.collection.mutable.HashMap.empty[String, Long]
      val newDocs = scala.collection.mutable.HashSet.empty[Long]
      rows.foreach { case (_, docId, text) =>
        if (!newDocs.contains(docId) && !seen.containsKey(docId)) {
          newDocs += docId
          tokens(text).foreach { w =>
            delta.update(w, delta.getOrElse(w, 0L) + 1L)
          }
        }
      }
      // state writes applied EAGERLY, never behind a lazy iterator
      newDocs.foreach(d => seen.updateValue(d, true))
      val out = Vector.newBuilder[(String, String, Long)]
      delta.foreach { case (w, c) =>
        val cur = if (wc.containsKey(w)) wc.getValue(w) else 0L
        val nu = cur + c
        wc.updateValue(w, nu)
        out += ((key, w, nu))
      }
      out.result().iterator
    }
  }

  /** Wire the processor onto a raw (source, doc_id, text) document
    * stream. The latest emission per (source, word) is that pair's
    * running count; feed the union into
    * `TextAnalysis6.klFromCounts` for the drift readout. */
  def klWordCounts(docs: DataFrame): Dataset[(String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), col("doc_id").cast("long"), col("text"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Update())
  }
}
