package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.Cdc

/** Structured-Streaming layer (SURVEY.md §2.4 ST1–ST6): watermarked
  * event-time windows, stream dedup, arbitrary keyed state, and the
  * foreachBatch upsert sink that reuses the batch CDC transforms
  * unchanged. All builders take unbounded DataFrames from any source
  * (Kafka in production, MemoryStream in tests) — the plans are
  * incrementalized by MicroBatchExecution, and state stores shard by the
  * grouping key, so parallelism scales with partitions exactly like the
  * batch plans.
  *
  * The incremental twins here are the foreachBatch ones whose state is
  * a [[BatchIndex]] of parquet tables under a state directory. The
  * HLL, quantile, survival, KL drift and deltaSum twins keep
  * engine-managed keyed state instead:
  * [[HllState]], [[QuantileState]], [[SurvivalState]], [[KlState]] and
  * [[DeltaSumState]].
  */
object Streams {

  /** ST4: watermarked tumbling/sliding window aggregation. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      watermark: String,
      windowLen: String,
      slide: Option[String] = None): DataFrame = {
    val w = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None    => window(col(tsCol), windowLen)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
  }

  /** ST5: at-least-once redelivery dedup bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      watermark: String, idCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream join: purchases matched to the signups of the same
    * user within a bounded interval. Both sides carry watermarks so the
    * join state is GC-able — the condition bounds how long a signup is
    * retained (the production-correct shape; an unbounded stream-stream
    * join would accumulate state forever). */
  def purchasesWithSignup(
      signups: DataFrame,
      purchases: DataFrame,
      maxAge: String = "1 hour"): DataFrame = {
    val sg = signups.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    val pu = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    pu.join(sg,
      col("p_user") === col("s_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"INTERVAL $maxAge"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("signup_ts"), col("value"))
  }

  /** Stream-static enrichment: the canonical CDC pattern of joining a
    * change stream against a slowly-changing dimension snapshot. The
    * static side is broadcast (re-read per micro-batch when the
    * underlying files change — Spark re-plans the static relation each
    * batch), so the stream never shuffles; at 100 TB/day of stream the
    * dim side stays a map-side hash lookup. Left join keeps events whose
    * key has no dim row yet (late-arriving dimension). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key),
      "left_outer")

  /** Stream-stream LEFT OUTER interval join: like [[purchasesWithSignup]]
    * but purchases with no signup in the window are EMITTED (null-padded)
    * once the watermark proves no match can still arrive — the unmatched
    * rows surface exactly when their join state expires, which is why an
    * outer stream-stream join REQUIRES both the watermark and the time
    * bound (Spark rejects it otherwise). State stays GC-able: each side
    * is dropped as soon as the interval + watermark passes. */
  def purchasesWithSignupOuter(
      signups: DataFrame,
      purchases: DataFrame,
      maxAge: String = "1 hour"): DataFrame = {
    val sg = signups.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    val pu = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
    pu.join(sg,
      col("p_user") === col("s_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"INTERVAL $maxAge"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("signup_ts"), col("value"))
  }

  /** S9 production wiring: a foreachBatch body that appends each decoded
    * micro-batch to the at-rest parquet changelog (append-only, so the
    * write is idempotent-safe under retries when paired with the
    * checkpoint; state is recovered via Compaction.stateView /
    * compact). Partition by a demux key at scale. */
  def changelogAppend(path: String, partitionCols: Seq[String] = Nil)
      : (DataFrame, Long) => Unit =
    (batch, _) =>
      graft.sources.ParquetSink.writePartitioned(
        batch, path, partitionCols, mode = "append")

  /** ST6 session record emitted when a session CLOSES. */
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)
  final case class SessionAcc(startMs: Long, lastMs: Long, n: Long)

  /** Keyed session buffer: ALL of a user's not-yet-emitted sessions
    * (any of which a future admissible event may still extend or
    * bridge), not just the newest open tail. */
  final case class SessionBuf(sessions: Seq[SessionAcc])

  /** Merge previously-buffered sessions and a batch of event times into
    * maximal gap-separated intervals: sort by start, fold, and join any
    * neighbor whose start is within gapMs of the running end. An event
    * that lands BETWEEN two buffered sessions and within gap of both
    * bridges them into one (counts add) — the out-of-order case a
    * single-open-tail fold gets wrong. */
  private[graft] def mergeIntervals(prev: Seq[SessionAcc], times: Seq[Long],
      gapMs: Long): List[SessionAcc] = {
    val all = (prev ++ times.map(t => SessionAcc(t, t, 1L)))
      .sortBy(s => (s.startMs, s.lastMs))
    var out = List.empty[SessionAcc]
    for (s <- all) out match {
      case h :: t if s.startMs <= h.lastMs + gapMs =>
        out = SessionAcc(h.startMs, math.max(h.lastMs, s.lastMs), h.n + s.n) :: t
      case _ => out = s :: out
    }
    out.reverse
  }

  /** Sessions safe to emit at watermark `wm`: close (last + gap) is
    * STRICTLY before the watermark — an admissible event t ≥ wm then
    * satisfies t − last > gap, so nothing can extend or bridge them.
    * A session with close == wm must wait: an event at exactly t == wm
    * is admissible and within gap. Returns (emit, keep). */
  private[graft] def splitByWatermark(ss: Seq[SessionAcc], wm: Long,
      gapMs: Long): (Seq[SessionAcc], Seq[SessionAcc]) =
    ss.partition(s => s.lastMs + gapMs < wm)

  private def toClosed(uid: Long, s: SessionAcc, gapMs: Long): ClosedSession =
    ClosedSession(uid, new java.sql.Timestamp(s.startMs),
      new java.sql.Timestamp(s.lastMs + gapMs), s.n)

  final case class UserEvent2(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** ST6: emit-on-close sessionization on `transformWithState` — the
    * arbitrary-state generalization of `session_window` (use this shape
    * when the per-session logic can't be an aggregate: emit-on-close,
    * per-session enrichment, custom merge).
    *
    * A session is emitted ONLY once the watermark strictly passes its
    * close (last event + gap): until then an admissible out-of-order
    * event in a later micro-batch could still extend it — or bridge two
    * buffered sessions into one ([[mergeIntervals]]) — so emitting at
    * the first intra-batch gap would make output depend on batch
    * alignment. Typed `ValueState` holds every not-yet-safe session, and
    * one EVENT-TIME TIMER (the earliest pending close) re-checks after
    * each watermark advance; emitted sessions leave state, so store
    * size tracks pending sessions only. Requires the RocksDB state store
    * provider — the same store that gives 100 TB streams changelog
    * checkpointing and out-of-heap state; see
    * [[sessionizeTransformWithState]] for the conf. */
  final class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, UserEvent2, ClosedSession] {
    @transient private var buf: ValueState[SessionBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[SessionBuf](
        "sessions", Encoders.product[SessionBuf], TTLConfig.NONE)

    private def prev: Seq[SessionAcc] =
      if (buf.exists()) buf.get().sessions else Nil

    /** emit watermark-safe sessions, keep the rest, re-arm one timer at
      * the earliest pending close (shared by both callbacks) */
    private def flush(uid: Long, merged: Seq[SessionAcc],
        wm: Long): Iterator[ClosedSession] = {
      val (done, keep) = splitByWatermark(merged, wm, gapMs)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (keep.isEmpty) buf.clear()
      else {
        buf.update(SessionBuf(keep))
        getHandle.registerTimer(
          math.max(keep.map(_.lastMs).min + gapMs, wm + 1))
      }
      done.sortBy(_.startMs).iterator.map(toClosed(uid, _, gapMs))
    }

    override def handleInputRows(uid: Long, rows: Iterator[UserEvent2],
        tv: TimerValues): Iterator[ClosedSession] =
      flush(uid,
        mergeIntervals(prev, rows.map(_.ts.getTime).toSeq, gapMs),
        tv.getCurrentWatermarkInMs())

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[ClosedSession] =
      flush(uid, prev, tv.getCurrentWatermarkInMs())
  }

  /** [[SessionProcessor]] wired into a stream. Callers must run with
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * (transformWithState rejects the default HDFS-backed store). */
  def sessionizeTransformWithState(events: Dataset[UserEvent2], gapMs: Long,
      watermark: String = "10 seconds"): Dataset[ClosedSession] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())(
        Encoders.product[ClosedSession])

  /** Streaming NEAR-dup dedup: the foreachBatch form of
    * [[graft.operators.Dedup.incremental]]. The index at `indexDir` is
    * a [[BatchIndex]] of three tables, each holding per batch:
    *
    *   - `postings` — (doc_id, shingle) for the batch's docs, uncapped;
    *   - `df` — the batch's per-shingle posting counts;
    *   - `sets` — the batch's per-doc sorted hash signatures, CAPPED AT
    *     ARRIVAL: only shingles whose df, as of that batch, is within
    *     [[graft.operators.Dedup.ShingleDfCap]]. A doc's set size is
    *     the size of its stored signature.
    *
    * An index directory written before `sets` was capped (it also has
    * a `sizes` table) stores uncapped signatures; rebuild it from the
    * documents.
    *
    * Each micro-batch is shingled once and paired as old⋈new + new⋈new
    * joins on the shingle-pair core of [[graft.operators.Dedup]]: old
    * docs are never re-shingled, old⋈old is never re-paired. The DF-cap
    * gate comes from the df DELTA tables (a vocabulary-proportional
    * aggregate), NOT from a linear re-scan of the postings index — the
    * r04 finding. Only the pairing join itself reads stored postings,
    * which is the index's job.
    *
    * Semantics: a doc's set is fixed at arrival (capped against
    * df-as-of-arrival); the arriving doc's set is capped against
    * df-as-of-now. Intersecting the two is exact against the uncapped
    * old set: df only grows, so a shingle under the cap now was under
    * it when the old doc arrived. A shingle crossing the cap between
    * batches can therefore shift later scores vs a one-shot run — the
    * incremental stop-gram caveat, impossible at test SF where the cap
    * is never reached.
    *
    * IDEMPOTENT under foreachBatch retries ([[BatchIndex]]): re-running
    * a batch id rewrites the same files instead of double-counting
    * document frequencies. That covers only a retried batch id: a doc
    * redelivered in a later batch is dropped against the doc ids
    * already in `sets` before it is shingled. Documents are immutable
    * per id, as in [[mediaDedupIncrementalBatch]]; edits go through the
    * version-gated twins. Every pair is emitted
    * exactly once, in the batch where its SECOND document first
    * arrives; the union of all emissions equals the batch-free
    * [[graft.operators.Dedup.jaccardPairs]] over the full corpus
    * (StreamingSpec asserts this golden, retry-idempotence and
    * cross-batch redelivery). */
  def nearDupIncrementalBatch(batch: DataFrame, indexDir: String,
      batchId: Long): DataFrame = {
    val (pairsPlan, newPost, batchDf, newSigs) =
      nearDupBatchRelations(batch, indexDir, batchId)
    // materialize BEFORE the index writes so the pair set reflects
    // the pre-append corpus even under lazy re-evaluation
    val pairs = pairsPlan.localCheckpoint(true)
    val index = new BatchIndex(indexDir, batchId)
    index.put("postings", newPost)
    index.put("df", batchDf)
    index.put("sets", newSigs)
    pairs
  }

  /** the per-batch relations, pre-materialization — split out so specs
    * can assert the PAIR PLAN's scale shape (one postings scan, one
    * signature-table scan, no corpus-wide cap window) before
    * localCheckpoint makes it opaque.
    *
    * Scale shape (r05): the batch is ranked under the CURRENT global DF
    * order ([[graft.operators.Dedup.rankPostings]] over the index's df
    * plus this batch). Old⋈new candidates join the postings index
    * against each arriving doc's n − ⌈n/3⌉ + 1 rarest shingles only:
    * the stored side carries every shingle, so the pair's
    * smallest-ranked common shingle always matches, and ⌈n/3⌉ is the
    * bound that holds whatever the stored side's size
    * ([[graft.operators.Dedup.jaccardProbeOMin]]). New⋈new candidates
    * are the batch PPJoin, since both sides are capped under the same
    * df. Intersections are then counted on per-doc SORTED HASH
    * SIGNATURES ([[graft.operators.Dedup.overlaps]]): the stored `sets`
    * plus the batch's on the side that may be old, the batch's alone on
    * the side that is always new. That is candidate-bounded work,
    * instead of counting matches across the full old⋈new postings join,
    * whose output grows with corpus × batch vocabulary overlap. */
  private[graft] def nearDupBatchRelations(batch: DataFrame,
      indexDir: String, batchId: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.operators.Dedup
    val index = new BatchIndex(indexDir, batchId)
    // shingle ONLY the batch (batch-sized; reused by df/rank/joins)
    // shingleRows' contract requires one row per doc_id; an
    // at-least-once source can redeliver a doc WITHIN a batch, which
    // would otherwise inflate df/set sizes. A doc redelivered in a
    // LATER batch is already in `sets`: it is not new, so it adds no
    // postings or df and pairs with nothing (its pairs were emitted on
    // first arrival, and it would pair with itself)
    val arriving = oneRowPerKey(batch, "doc_id")
    val newPost = Dedup.shingleRows(arriving.join(
        index.prior("sets", arriving.select("doc_id")), Seq("doc_id"),
        "left_anti"))
      .localCheckpoint(true)
    val batchDf = newPost.groupBy("shingle").agg(count(lit(1)).as("cnt"))
    // current document frequency = prior per-batch deltas + this batch:
    // a sum over per-batch AGGREGATES, never a postings re-scan
    val dfNow = index.prior("df", batchDf).unionByName(batchDf)
      .groupBy("shingle").agg(sum("cnt").as("df"))
    // batch-sized windows — keyed by doc_id, never corpus-wide
    val ranked = Dedup.rankPostings(newPost, dfNow, Dedup.ShingleDfCap)
    val newSigs = Dedup.signatures(ranked)
    val probe = Dedup.prefixRows(ranked, Dedup.jaccardProbeOMin)
    // every candidate's b_id is an arriving doc, so only the a side
    // looks up the stored signatures
    val onCand = index.prior("postings", newPost).as("a")
      .join(probe.as("b"), col("a.shingle") === col("b.shingle"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val cand = onCand.union(Dedup.jaccardCandidatesFrom(ranked)).distinct()
    val sigs = index.prior("sets", newSigs).unionByName(newSigs)
    val pairs = Dedup.jaccardSims(Dedup.overlaps(cand, sigs, newSigs))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("sim"))
    (pairs, newPost, batchDf, newSigs)
  }

  /** DETERMINISTIC within-batch redelivery collapse: one row per key,
    * the survivor being the lexicographic max over the non-key columns
    * (one hash agg). `dropDuplicates` keeps an ARBITRARY row — if a
    * "redelivery" ever carried an updated payload, which payload
    * entered downstream state would then differ across runs and
    * foreachBatch retries. Shared by the near-dup index, the curation
    * pipeline and the version-gated edit twins (whose payload is
    * (version, text), so the max version wins) so their pick rules
    * cannot drift. */
  private def oneRowPerKey(batch: DataFrame, key: String): DataFrame = {
    val payloadCols = batch.columns.filterNot(_ == key).toSeq
    batch.groupBy(key)
      .agg(max(struct(payloadCols.map(col): _*)).as("_r"))
      .select(col(key) +: payloadCols.map(c => col(s"_r.$c").as(c)): _*)
  }

  /** Streaming END-TO-END curation: the foreachBatch form of
    * [[graft.operators.TextAnalysis3.keepList]]. Each micro-batch lands
    * its arriving docs' keep/drop decisions AND re-emits previously
    * decided docs whose decision a later arrival invalidates, so the
    * upsert materialization of all emissions (latest batch per doc
    * wins) equals the one-shot keep list over the docs seen so far — in
    * ANY arrival order (StreamingSpec asserts sorted and shuffled).
    *
    * Decision flags are MONOTONE (false→true only), which is what makes
    * revision = OR-merge + recomputed precedence sound:
    *   - holdout / quality: static per-doc rules, final at arrival;
    *   - exact_dup: a later, smaller-id doc of the same normalized text
    *     flips the stored keeper;
    *   - near_dup: [[nearDupIncrementalBatch]] emits each qualifying
    *     pair when its second member arrives; the pair's max id flips;
    *   - contaminated: an arriving holdout doc flips every stored
    *     training doc sharing one of its 5-shingles.
    *
    * State at `stateDir` is a [[BatchIndex]] (idempotent under
    * foreachBatch retries):
    *   - `nd/`        — the [[nearDupIncrementalBatch]] index;
    *   - `norms/`     — per-batch (norm, min_id) keeper deltas;
    *   - `ho5/`       — per-batch distinct holdout 5-shingles;
    *   - `tr5/`       — per-batch training-doc 5-shingle postings;
    *   - `decisions/` — per-batch emitted flag rows.
    *
    * The 100 TB shape: exact-dedup state is grouped/joined by norm
    * (hash agg + hash join, never collected); contamination is the
    * decontaminate inverted-index join (holdout side is orders of
    * magnitude smaller); flip re-emission semi-joins the decisions
    * table on the flipped-doc set only. Assumes cross-batch
    * exactly-once per doc_id upstream (ST5 stream dedup); within-batch
    * redelivery is collapsed deterministically like the near-dup
    * index. */
  def curationIncrementalBatch(batch: DataFrame, stateDir: String,
      batchId: Long): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis3}
    val index = new BatchIndex(stateDir, batchId)
    // near-dup pairs first (maintains its own nd/ index tables)
    val pairs = nearDupIncrementalBatch(batch, s"$stateDir/nd", batchId)
    val ndDocs = pairs.select(col("b_id").as("doc_id")).distinct()
      .withColumn("nd_hit", lit(true))
    // deterministic one-row-per-doc, same rule as the near-dup index
    val docs = oneRowPerKey(batch, "doc_id").localCheckpoint(true)
    // --- exact-dedup keeper deltas ---
    val batchNorms = docs.select(col("doc_id"),
      lower(trim(col("text"))).as("norm"))
    val batchMin = batchNorms.groupBy("norm").agg(min("doc_id").as("min_id"))
    val oldMin = index.prior("norms", batchMin)
      .groupBy("norm").agg(min("min_id").as("old_min"))
    val curMin = batchMin
      .unionByName(oldMin.select(col("norm"), col("old_min").as("min_id")))
      .groupBy("norm").agg(min("min_id").as("cur_min"))
    val arrivingExd = batchNorms.join(curMin, "norm")
      .filter(col("doc_id") > col("cur_min"))
      .select("doc_id").withColumn("ex_hit", lit(true))
    // the stored keeper flips iff this batch brought a smaller id
    val flippedExd = oldMin.join(batchMin, "norm")
      .filter(col("min_id") < col("old_min"))
      .select(col("old_min").as("doc_id"))
    // --- contamination (5-shingle overlap with the holdout split) ---
    val sh5 = docs.select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 5)).as("s"))
      .distinct()
    val batchHo5 = sh5.filter(TextAnalysis3.isHoldout(col("doc_id")))
      .select("s").distinct()
    val batchTr5 = sh5.filter(!TextAnalysis3.isHoldout(col("doc_id")))
    val allHo5 = index.prior("ho5", batchHo5).unionByName(batchHo5).distinct()
    val arrivingCont = batchTr5.join(allHo5, "s")
      .select("doc_id").distinct().withColumn("ct_hit", lit(true))
    val flippedCont = index.prior("tr5", batchTr5)
      .join(batchHo5, "s").select("doc_id").distinct()
    // --- arriving decisions: full flag row per batch doc ---
    val arriving = docs.select(col("doc_id"),
        TextAnalysis3.isHoldout(col("doc_id")).as("holdout"),
        TextAnalysis3.qualityBad(col("text")).as("quality_bad"))
      .join(arrivingExd, Seq("doc_id"), "left")
      .join(ndDocs, Seq("doc_id"), "left")
      .join(arrivingCont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("holdout"), col("quality_bad"),
        coalesce(col("ex_hit"), lit(false)).as("exact_dup"),
        coalesce(col("nd_hit"), lit(false)).as("near_dup"),
        coalesce(col("ct_hit"), lit(false)).as("contaminated"))
    // --- flips: previously-decided docs gaining a flag this batch ---
    val flipSet = flippedExd
      .select(col("doc_id"), lit(true).as("f_ex"), lit(false).as("f_nd"),
        lit(false).as("f_ct"))
      .unionByName(ndDocs.select(col("doc_id"), lit(false).as("f_ex"),
        lit(true).as("f_nd"), lit(false).as("f_ct")))
      .unionByName(flippedCont.select(col("doc_id"), lit(false).as("f_ex"),
        lit(false).as("f_nd"), lit(true).as("f_ct")))
      .groupBy("doc_id")
      .agg(max("f_ex").as("f_ex"), max("f_nd").as("f_nd"),
        max("f_ct").as("f_ct"))
      .join(docs.select("doc_id"), Seq("doc_id"), "left_anti")
    // flags are monotone, so OR across emissions == latest row
    val flipped = index.prior("decisions", arriving)
      .groupBy("doc_id").agg(max("holdout").as("holdout"),
        max("quality_bad").as("quality_bad"),
        max("exact_dup").as("exact_dup"),
        max("near_dup").as("near_dup"),
        max("contaminated").as("contaminated"))
      .join(flipSet, "doc_id")
      .select(col("doc_id"), col("holdout"), col("quality_bad"),
        (col("exact_dup") || col("f_ex")).as("exact_dup"),
        (col("near_dup") || col("f_nd")).as("near_dup"),
        (col("contaminated") || col("f_ct")).as("contaminated"))
    val emitted = arriving.unionByName(flipped)
      .withColumn("reason", TextAnalysis3.curationReason)
      .withColumn("kept", col("reason") === "kept")
      .localCheckpoint(true) // materialize BEFORE the state writes
    index.put("norms", batchMin)
    index.put("ho5", batchHo5)
    index.put("tr5", batchTr5)
    index.put("decisions", emitted.drop("reason", "kept"))
    emitted.select("doc_id", "reason", "kept")
  }

  /** ST6 incremental twin of
    * [[graft.operators.Curation.recurationDelta]] — the streaming face
    * of the CDC × curation composition: each micro-batch of document
    * edits (doc_id, text, version) emits the keys whose curation
    * verdict CHANGED relative to the pre-batch state, exactly the rows
    * an epoch planner consumes to patch its keep list between full
    * rebuilds.
    *
    * Semantics per batch:
    *   1. within-batch compaction — deterministic survivor
    *      max(version, text) per key ([[oneRowPerKey]] over
    *      (doc_id, version, text));
    *   2. the NEW latest per touched key folds the compacted batch
    *      against stored state, so a STALE redelivery (version ≤
    *      stored) can never regress a verdict — the same
    *      version-gating contract as [[graft.sources.JdbcUpsertSink]];
    *   3. the OLD verdict comes from the stored latest text if any
    *      prior batch touched the key, else from the epoch flag row
    *      (its quality_bad IS the epoch text's gate — no epoch text
    *      re-read);
    *   4. per-row gates (holdout, quality) recompute; the relational
    *      gates ride FROZEN from `epochFlags` (the
    *      [[graft.operators.TextAnalysis3.curationFlags]] snapshot) —
    *      the rebuild-on-epoch adjudication the batch query documents.
    *
    * Emissions are deltas vs the pre-batch state, so a doc edited and
    * then REVERTED emits twice (old→new, new→old) while the one-shot
    * query over the final changelog sees nothing — the latest emission
    * per key always equals the one-shot verdict over the same total
    * edit set (RecurationStreamSpec proves both: golden ≡ one-shot on
    * the registered query's own edit stream split across batches with
    * cross-batch redelivery, and the revert case folding back to the
    * epoch verdict).
    *
    * Scope: EDITS to epoch documents (the inner epoch-flags join).
    * Brand-new documents have no prior verdict to delta against —
    * arrivals are [[curationIncrementalBatch]]'s contract, which emits
    * their first full flag row.
    *
    * State is the `docs` table of a [[BatchIndex]] at `stateDir`
    * (idempotent under foreachBatch retries). 100 TB shape: one hash agg + two key joins per batch, all
    * O(|batch| + touched keys); the epoch flags join prunes to batch
    * keys; nothing rescans the corpus. */
  def recurationDeltaBatch(batch: DataFrame, stateDir: String,
      batchId: Long, epochFlags: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis3
    val index = new BatchIndex(stateDir, batchId)
    val compacted = oneRowPerKey(batch.select("doc_id", "version", "text"),
      "doc_id").localCheckpoint(true)
    val priorLatest = oneRowPerKey(index.prior("docs", compacted), "doc_id")
    val newLatest = oneRowPerKey(compacted.unionByName(priorLatest), "doc_id")
      .join(compacted.select("doc_id"), "doc_id") // touched keys only
    def verdict(qualityBad: Column): Column =
      when(col("holdout"), "holdout")
        .when(qualityBad, "quality")
        .when(col("exact_dup"), "exact_dup")
        .when(col("near_dup"), "near_dup")
        .when(col("contaminated"), "contaminated")
        .otherwise("kept")
    val emitted = newLatest.select(col("doc_id"), col("text").as("new_text"))
      .join(priorLatest.select(col("doc_id"), col("text").as("old_text"))
        .withColumn("has_prior", lit(true)), Seq("doc_id"), "left")
      .join(epochFlags, "doc_id")
      .select(col("doc_id"),
        verdict(when(coalesce(col("has_prior"), lit(false)),
            TextAnalysis3.qualityBad(col("old_text")))
          .otherwise(col("quality_bad"))).as("old_reason"),
        verdict(TextAnalysis3.qualityBad(col("new_text"))).as("new_reason"))
      .filter(col("old_reason") =!= col("new_reason"))
      .localCheckpoint(true) // materialize BEFORE the state write
    index.put("docs", compacted)
    emitted
  }

  /** ST6 incremental twin of the LSH ANN tier
    * ([[graft.operators.Similarity.annTopk]]): the banded signature
    * index maintained across embedding micro-batches. The signature is
    * row-local (one codegen'd sign-matrix pass — no corpus state), so
    * the index IS incrementally maintainable: each batch appends its
    * (vec_id, band, bsig, embedding, nrm) postings to its own
    * partition; a query run against the accumulated index is exactly
    * the one-shot [[graft.operators.Similarity.annLsh]] over the union
    * of all arrived vectors (StreamingSpec golden, any arrival order —
    * signatures don't depend on arrival). The postings are a
    * [[BatchIndex]] table, so retries are idempotent.
    *
    * 100 TB shape: per batch, one map-side signature pass + append;
    * the query-side bucket join and WindowGroupLimit re-rank read the
    * at-rest postings — the same plan as the batch tier, with the
    * index build amortized across arrivals instead of recomputed. */
  def annIncrementalBatch(batch: DataFrame, stateDir: String,
      batchId: Long, numQueries: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dot, norm}
    import graft.operators.Similarity
    val postings = batch.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        Similarity.lshSignature(col("embedding"), bits = 32).as("sig"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(array((0 until 8).map(b =>
          shiftrightunsigned(col("sig"), 4 * b).bitwiseAND(lit(0xFL))): _*))
          .as(Seq("band", "bsig")))
    val index = new BatchIndex(stateDir, batchId)
    val banded = index.prior("postings", postings).unionByName(postings)
    index.put("postings", postings)
    val queries = banded.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("band"), col("bsig"))
    val cand = banded
      .join(queries, Seq("band", "bsig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("n_id"), col("embedding").as("c_emb"), col("nrm"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    cand
      .withColumn("sim",
        dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "sim")
      .orderBy("q_id", "rank")
  }

  /** ST6 incremental twin of the MEDIA signature near-dup family
    * ([[graft.operators.Multimodal2]]'s image aHash / audio fingerprint
    * / frame-sequence tiers, r14 VERDICT task 2): the banded 64-bit
    * signature index maintained across micro-batches, ONE maintainer
    * for every modality because each tier reduces to the same relation
    * — (doc_id, block, hash) where `block` is the modality's blocking
    * key (image geometry, audio duration class, frame count) and
    * `hash` the codegen'd 64-bit signature.
    *
    * Contract: signatures are row-local and immutable per doc (derived
    * from the media bytes — an append-only media corpus), so the index
    * is incrementally maintainable without re-signing old docs. Per
    * batch the emitted rows are PAIR DELTAS (a_id, b_id, block,
    * hamming, op∈{add,remove}) whose running fold (adds minus removes)
    * after batch N equals the one-shot banded pair set
    * ([[graft.operators.Multimodal2]]'s bandedHammingPairs semantics:
    * 4×16-bit bands, bucket join under the cap, exact Hamming verify)
    * over all docs arrived through batch N — MediaDedupStreamSpec
    * asserts the golden across batches, under cross-batch redelivery,
    * AND across a cap crossing.
    *
    * The delta algebra is exact because candidacy is MONOTONE: bucket
    * populations only grow, so a pair can gain candidacy only when one
    * endpoint arrives (adds join new docs against the accumulated
    * capped postings at current counts) and lose it only when its last
    * supporting bucket crosses the cap (removes re-check exactly the
    * stored pairs whose endpoints share a JUST-crossed bucket — never
    * re-added, never re-scanned). Re-checked work per batch is bounded
    * by |batch| + Σ(members of buckets crossing this batch) ≤ cap per
    * bucket — never the corpus.
    *
    * State at `stateDir` is a [[BatchIndex]] of the tables `sigs`,
    * `cnts` and `deltas` (idempotent under foreachBatch retries).
    * 100 TB shape: per batch one band explode + three key equi-joins, all
    * bounded by batch and crossed-bucket sizes; bucket counts fold
    * from the per-batch COUNT-DELTA table (the
    * [[nearDupIncrementalBatch]] df-table pattern — vocabulary-
    * bounded, never a posting re-aggregation); only the pairing join
    * itself reads the stored postings, which is the index's job; the
    * signature pass happened upstream where the media bytes were read
    * once. */
  def mediaDedupIncrementalBatch(batch: DataFrame, stateDir: String,
      batchId: Long, threshold: Int = 3,
      cap: Long = graft.operators.Dedup.BandBucketCap): DataFrame = {
    val index = new BatchIndex(stateDir, batchId)
    // within-batch redelivery: signatures are immutable per doc, so
    // distinct IS the compaction; cross-batch redelivery: already-known
    // docs are not "new" (their pairs were emitted on first arrival)
    val batchSigs = batch.select("doc_id", "block", "hash").distinct()
    val priorSigs = index.prior("sigs", batchSigs)
    val newSigs = batchSigs
      .join(priorSigs.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val allSigs = priorSigs.unionByName(newSigs).localCheckpoint(true)
    def bandsOf(sigs: DataFrame): DataFrame = sigs.select(
      col("doc_id"), col("block"),
      posexplode(array((0 until 4).map(k =>
        (shiftright(col("hash"), 16 * k) bitwiseAND 0xFFFFL)): _*))
        .as(Seq("band", "sig")))
    val key = Seq("block", "band", "sig")
    val allBands = bandsOf(allSigs)
    // bucket counts from the count-DELTA table: this batch's per-bucket
    // counts are one batch-sized agg; cumulative counts fold stored
    // per-batch counts (vocabulary-bounded rows, never postings)
    val batchCnts = bandsOf(newSigs).groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val priorCnts = index.prior("cnts", batchCnts)
    val cnts = priorCnts.unionByName(batchCnts)
      .groupBy(key.map(col): _*).agg(sum("c").as("n_now"))
    val capped = cnts.filter(col("n_now") <= cap).select(key.map(col): _*)
    // --- adds: new docs × accumulated postings, capped buckets only ---
    val newBands = bandsOf(newSigs)
    val candRaw = newBands.join(capped, key)
      .join(allBands.select(col("doc_id").as("o_id"), col("block"),
        col("band"), col("sig")), key)
      .filter(col("doc_id") =!= col("o_id"))
      .select(least(col("doc_id"), col("o_id")).as("a_id"),
        greatest(col("doc_id"), col("o_id")).as("b_id"), col("block"))
      .distinct()
    val hashes = allSigs.select(col("doc_id"), col("hash"))
    val adds = candRaw
      .join(hashes.select(col("doc_id").as("a_id"), col("hash").as("ha")), "a_id")
      .join(hashes.select(col("doc_id").as("b_id"), col("hash").as("hb")), "b_id")
      .select(col("a_id"), col("b_id"), col("block"),
        bit_count(col("ha") bitwiseXOR col("hb")).cast("bigint").as("hamming"))
      .filter(col("hamming") <= threshold)
      .withColumn("op", lit("add"))
    // --- removes: stored pairs whose last support crossed the cap ---
    val deltas = index.prior("deltas", adds)
    val statePairs = deltas.filter(col("op") === "add")
      .select("a_id", "b_id", "block", "hamming")
      .join(deltas.filter(col("op") === "remove")
        .select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
    val prevCnts = priorCnts.groupBy(key.map(col): _*)
      .agg(sum("c").as("n_prev"))
    val crossed = cnts.filter(col("n_now") > cap)
      .join(prevCnts.filter(col("n_prev") <= cap), key)
      .select(key.map(col): _*)
    val crossedMembers = allBands.join(crossed, key)
    val suspects = statePairs
      .join(crossedMembers.select(col("doc_id").as("a_id"),
        col("block"), col("band"), col("sig")), Seq("a_id", "block"))
      .join(crossedMembers.select(col("doc_id").as("b_id"),
        col("block"), col("band"), col("sig")),
        Seq("b_id", "block", "band", "sig"))
      .select("a_id", "b_id", "block", "hamming").distinct()
    val supported = suspects
      .join(allBands.select(col("doc_id").as("a_id"), col("block"),
        col("band"), col("sig")), Seq("a_id", "block"))
      .join(allBands.select(col("doc_id").as("b_id"), col("block"),
        col("band"), col("sig")), Seq("b_id", "block", "band", "sig"))
      .join(capped, key)
      .select("a_id", "b_id").distinct()
    val removes = suspects.join(supported, Seq("a_id", "b_id"), "left_anti")
      .withColumn("op", lit("remove"))
    val emitted = adds.unionByName(removes)
      .localCheckpoint(true) // materialize BEFORE the state writes
    index.put("sigs", newSigs)
    index.put("cnts", batchCnts)
    index.put("deltas", emitted)
    emitted
  }

  /** ST1+ST2+ST3: an idempotent upsert sink for foreachBatch. Maintains
    * keyed state (here an in-memory map; in production the same merge
    * runs as a MERGE INTO / ReplacingMergeTree insert) by replaying each
    * micro-batch through the *batch* CDC materialization logic — the
    * exactly-once-on-sink upgrade of the reference's at-least-once
    * consumer (reference: main.py:27-55).
    *
    * TEST/DEMO ONLY: `merge` collects each micro-batch to the driver to
    * feed the in-memory map, so it is bounded by driver memory and NOT a
    * production path. The set-based production sink with the same merge
    * semantics is [[graft.sources.JdbcUpsertSink]] (MERGE INTO per
    * batch, state in the target store, nothing collected). */
  final class UpsertMemorySink(keyCol: String, versionCols: Seq[String],
      tombstoneCol: String) {
    private val state = TrieMap.empty[Any, (Seq[Any], Row)]

    /** merge one micro-batch; within-batch dedup via Cdc.latestByKey,
      * cross-batch via version comparison (idempotent under replay). */
    def merge(batch: DataFrame): Unit = {
      val compacted = Cdc.latestByKey(batch, Seq(keyCol), versionCols.map(col))
      compacted.collect().foreach { row =>
        val k = row.getAs[Any](keyCol)
        val v = versionCols.map(row.getAs[Any])
        val newer = state.get(k).forall { case (oldV, _) => gt(v, oldV) }
        if (newer) {
          if (row.getAs[Boolean](tombstoneCol)) state.remove(k)
          else state.put(k, (v, row))
        }
      }
    }

    /** strict "newer than" on the first differing version component.
      * Unsupported component types throw instead of silently ordering —
      * defaulting to true would let a STALE row overwrite fresh state on
      * out-of-order redelivery. */
    private def gt(a: Seq[Any], b: Seq[Any]): Boolean =
      a.zip(b).find { case (x, y) => x != y } match {
        case None => true // equal versions: replay of the same record
        case Some((x: Long, y: Long)) => x > y
        case Some((x: Int, y: Int)) => x > y
        case Some((x: java.sql.Timestamp, y: java.sql.Timestamp)) => x.after(y)
        case Some((x: java.time.Instant, y: java.time.Instant)) => x.isAfter(y)
        case Some((x: Double, y: Double)) => x > y
        case Some((x: String, y: String)) => x > y
        case Some((x, y)) => throw new IllegalArgumentException(
          s"unsupported version column type for upsert ordering: " +
            s"${x.getClass.getName} vs ${y.getClass.getName}")
      }

    def snapshot: Map[Any, Row] = state.map { case (k, (_, r)) => k -> r }.toMap
  }

  // ------------------------------------------------------------------
  // ST6 incremental twin of `curation_pack_delta` — the O(edits) as-of
  // path the batch query's scaladoc documents (r15 VERDICT task 4)
  // ------------------------------------------------------------------

  /** One-time epoch initialization for [[packDeltaIncrementalBatch]]:
    * materialize the epoch packing state — for EVERY document (kept or
    * not) its token count, the pack keep-gate, and the EXCLUSIVE
    * prefix sum of kept-token contributions by doc_id. This is the
    * epoch pack the incremental query patches; it is computed ONCE
    * (the same [[graft.operators.ScalableWindows.globalRunningSum]]
    * two-pass as the registered `curation_pack_bins`) and every
    * subsequent micro-batch reads it at rest instead of re-tokenizing
    * and re-summing the corpus. */
  def packDeltaEpochInit(docs: DataFrame, stateDir: String): Unit = {
    import graft.operators.{ScalableWindows, TextAnalysis3}
    val base = docs.select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"),
        (!TextAnalysis3.isHoldout(col("doc_id")) &&
          !TextAnalysis3.qualityBad(col("text"))).as("kept"))
      .withColumn("__c", when(col("kept"), col("n_tok")).otherwise(lit(0L)))
    ScalableWindows.globalRunningSum(base, Seq(col("doc_id")), col("__c"),
        "__rn", "__cum")
      .select(col("doc_id"), col("n_tok"), col("kept"),
        (col("__cum") - col("__c")).as("cum_excl"))
      .write.mode("overwrite").parquet(s"$stateDir/epoch")
  }

  /** ST6 incremental twin of
    * [[graft.operators.Curation.packDelta]] (`curation_pack_delta`) —
    * the O(edits) as-of path that batch query's scaladoc documents:
    * per micro-batch of document edits (doc_id, text, version), emit
    * the DELTA of the chunk-invalidation set (vs the pre-batch set)
    * WITHOUT the O(corpus) two-pass re-pack the one-shot query runs.
    *
    * The invariant that makes this exact: the post-edit prefix sum at
    * any doc d equals the EPOCH prefix sum at d plus the running sum
    * of per-edit token CORRECTIONS at edits ≤ d (a step function with
    * one step per effective edit). So the new placement of every doc
    * is an AS-OF lookup of that step function against the at-rest
    * epoch state — never a re-tokenization, never a corpus-wide
    * running-sum rebuild. Concretely, per batch:
    *
    *   1. within-batch compaction + an `edits` [[BatchIndex]] table,
    *      version-gated exactly like [[recurationDeltaBatch]] (stale
    *      cross-batch redeliveries fold to the SAME latest-per-key and
    *      short-circuit to an empty emission);
    *   2. two correction step tables — from the pre-batch edit set and
    *      the post-batch edit set — each O(|edits|): per effective
    *      edit, delta = (kept'·n_tok') − (kept_epoch·n_tok_epoch),
    *      running-summed by [[graft.operators.ScalableWindows.globalRunningSum]];
    *   3. the epoch state is read WITH a doc_id ≥ m pushdown, m = the
    *      smallest doc whose effective edit changed this batch — every
    *      doc before m has identical corrections under both step
    *      functions and provably identical placement (the prefix-
    *      stability argument of the batch query, now load-bearing);
    *   4. each suffix doc picks up its correction via
    *      [[graft.operators.Joins.binnedRangeJoin]] over the step
    *      intervals (a HASH join — no global sort, no nested loop),
    *      once per step function; rows whose pre/post delta-vs-epoch
    *      rows differ emit: op=upsert carries the current
    *      invalidation row, op=retract marks a doc RESTORED to its
    *      epoch placement (corrections cancelled).
    *
    * Folding emissions (latest per doc across batches, dropping
    * retracts) after batch N reproduces the registered
    * `curation_pack_delta` over the total edit set — PackDeltaStreamSpec
    * proves golden ≡ one-shot across batches, under cross-batch
    * redelivery, and through a full revert (every emission retracted).
    *
    * Cost shape: per batch O(|batch| + |edits| + |affected suffix|):
    * the only corpus-sized relation touched is the at-rest epoch state
    * and its scan is pruned to doc_id ≥ m by parquet pushdown (the
    * spec asserts the plan contains NO documents-table scan and
    * carries the GreaterThanOrEqual pushdown). The affected suffix is
    * the true answer's own size — the emission IS that set's change.
    * At the registered 1/7 edit fraction the one-shot two-pass remains
    * the right BATCH plan (the batch query's adjudication); this twin
    * is the CDC-maintenance path where edit fractions are tiny. */
  def packDeltaIncrementalBatch(batch: DataFrame, stateDir: String,
      batchId: Long, cap: Long): DataFrame = {
    import graft.operators.{Joins, ScalableWindows, TextAnalysis3}
    val spark = batch.sparkSession
    val epoch = spark.read.parquet(s"$stateDir/epoch")
    val index = new BatchIndex(stateDir, batchId)
    val compacted = oneRowPerKey(batch.select("doc_id", "version", "text"),
      "doc_id").localCheckpoint(true)
    val prior = index.prior("edits", compacted)
    index.put("edits", compacted)
    val prevLatest = oneRowPerKey(prior, "doc_id").localCheckpoint(true)
    val allLatest = oneRowPerKey(prior.unionByName(compacted), "doc_id")
      .localCheckpoint(true)
    val emptyOut = epoch.limit(0).select(col("doc_id"),
      lit("").as("change"), lit(0L).as("old_first_chunk"),
      lit(0L).as("new_first_chunk"), lit(0L).as("old_chunk_offset"),
      lit(0L).as("new_chunk_offset"), lit("").as("op"))
    // m = smallest doc whose EFFECTIVE edit changed this batch; a pure
    // redelivery (every latest unchanged) emits nothing, by state
    val changed = allLatest.select(col("doc_id"), col("version").as("__va"))
      .join(prevLatest.select(col("doc_id"), col("version").as("__vp")),
        Seq("doc_id"), "left")
      .filter(!(col("__va") <=> col("__vp")))
    val mRow = changed.agg(min("doc_id")).head()
    if (mRow.isNullAt(0)) return emptyOut
    val m = mRow.getLong(0)
    val maxDoc = epoch.agg(max("doc_id")).head().getLong(0)
    // per effective edit (epoch-scoped): post-edit gate/count and the
    // token correction vs the doc's epoch contribution
    def editInfo(lat: DataFrame): DataFrame = lat
      .join(epoch.select(col("doc_id"), col("n_tok").as("__en"),
        col("kept").as("__ek")), Seq("doc_id"))
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("f_n"),
        (!TextAnalysis3.isHoldout(col("doc_id")) &&
          !TextAnalysis3.qualityBad(col("text"))).as("f_k"),
        col("__en"), col("__ek"))
      .withColumn("delta",
        when(col("f_k"), col("f_n")).otherwise(lit(0L)) -
          when(col("__ek"), col("__en")).otherwise(lit(0L)))
      .localCheckpoint(true)
    // correction step function as [start, end) intervals carrying the
    // INCLUSIVE running correction; sentinel covers (-inf, first step)
    def intervals(ei: DataFrame): (DataFrame, Long) = {
      val steps = ei.filter(col("delta") =!= 0L).select("doc_id", "delta")
      val n = steps.count()
      if (n == 0L)
        (spark.range(1).select(lit(-1L).as("__start"),
          lit(maxDoc + 1).as("__end"), lit(0L).as("__r")), 1L)
      else {
        val withR = ScalableWindows.globalRunningSum(steps,
          Seq(col("doc_id")), col("delta"), "__rn", "__r")
        val nxt = withR.select((col("__rn") - 1).as("__rn"),
          col("doc_id").as("__next"))
        val iv = withR.join(nxt, Seq("__rn"), "left")
          .select(col("doc_id").as("__start"),
            coalesce(col("__next"), lit(maxDoc + 1)).as("__end"), col("__r"))
        val firstS = iv.agg(min("__start")).head().getLong(0)
        (iv.unionByName(spark.range(1).select(lit(-1L).as("__start"),
          lit(firstS).as("__end"), lit(0L).as("__r"))), n)
      }
    }
    val suffix = epoch.filter(col("doc_id") >= m)
    // delta-vs-epoch row for every suffix doc under one step function
    def placed(ei: DataFrame, tag: String): DataFrame = {
      val (iv, n) = intervals(ei)
      val w = math.max(1L, (maxDoc + 2) / math.max(n, 32L))
      val asOf = Joins.binnedRangeJoin(iv, suffix, "doc_id",
          "__start", "__end", w)
        .select(col("doc_id"), col("n_tok"), col("kept"), col("cum_excl"),
          col("__r"))
        .join(ei.select(col("doc_id"), col("delta").as("__own"),
          col("f_n"), col("f_k")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"), col("kept"), col("cum_excl"),
          (col("__r") - coalesce(col("__own"), lit(0L))).as("__rx"),
          coalesce(col("f_n"), col("n_tok")).as("__cn"),
          coalesce(col("f_k"), col("kept")).as("__ck"))
      asOf.select(col("doc_id"),
          col("kept"), col("__ck"),
          expr(s"cum_excl div $cap").as("__ofc"),
          expr(s"(cum_excl + n_tok - 1) div $cap").as("__olc"),
          expr(s"cum_excl % $cap").as("__ooff"),
          expr(s"(cum_excl + __rx) div $cap").as("__nfc"),
          expr(s"(cum_excl + __rx + __cn - 1) div $cap").as("__nlc"),
          expr(s"(cum_excl + __rx) % $cap").as("__noff"),
          col("n_tok"), col("__cn"))
        .withColumn("__has",
          (col("kept") || col("__ck")) &&
            (!col("kept") || !col("__ck") ||
              col("__ofc") =!= col("__nfc") || col("__olc") =!= col("__nlc") ||
              col("__ooff") =!= col("__noff") || col("n_tok") =!= col("__cn")))
        .select(col("doc_id"),
          col("__has").as(s"has_$tag"),
          when(col("__has"),
            when(!col("kept"), "added").when(!col("__ck"), "removed")
              .otherwise("moved")).as(s"chg_$tag"),
          when(col("__has") && col("kept"), col("__ofc")).as(s"ofc_$tag"),
          when(col("__has") && col("__ck"), col("__nfc")).as(s"nfc_$tag"),
          when(col("__has") && col("kept"), col("__ooff")).as(s"ooff_$tag"),
          when(col("__has") && col("__ck"), col("__noff")).as(s"noff_$tag"))
    }
    val cur = placed(editInfo(allLatest), "n")
    val prev = placed(editInfo(prevLatest), "p")
    cur.join(prev, Seq("doc_id"))
      .filter((col("has_n") || col("has_p")) &&
        !(col("has_n") && col("has_p") &&
          col("chg_n") <=> col("chg_p") && col("ofc_n") <=> col("ofc_p") &&
          col("nfc_n") <=> col("nfc_p") && col("ooff_n") <=> col("ooff_p") &&
          col("noff_n") <=> col("noff_p")))
      .select(col("doc_id"),
        coalesce(col("chg_n"), lit("")).as("change"),
        col("ofc_n").as("old_first_chunk"),
        col("nfc_n").as("new_first_chunk"),
        col("ooff_n").as("old_chunk_offset"),
        col("noff_n").as("new_chunk_offset"),
        when(col("has_n"), "upsert").otherwise("retract").as("op"))
  }
}
