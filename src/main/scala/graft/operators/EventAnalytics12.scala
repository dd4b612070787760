package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Q
import graft.Tables._

/** Twelfth event-analytics batch: ordered-sequence matching and
  * changepoint detection — the ClickHouse `sequenceCount` shape and a
  * CUSUM peak scan, both in exact arithmetic end-to-end.
  *
  * Reference surface: the ClickHouse sink side of the CDC pipeline
  * (`/root/reference/main.py:40-52` lands events into ClickHouse
  * tables whose published query surface includes the
  * sequence/changepoint family). */
object EventAnalytics12 {

  private val dec = DecimalType(38, 0)

  /** view→purchase adjacency counts per user — the `sequenceCount`
    * pattern over strictly consecutive events: order each user's
    * stream by (ts, event_id) and count positions whose event is
    * `view` and whose IMMEDIATE successor is `purchase`. The window is
    * user-partitioned (per-user streams stay session-sized at any
    * corpus scale), the count one hash agg. */
  val q132SequenceCount: Q = Q(
    "q132_sequence_count",
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS nxt
      |  FROM events)
      |SELECT user_id, COUNT(*)::BIGINT AS n_seq
      |FROM o WHERE event_type = 'view' AND nxt = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("event_type") === "view" && col("nxt") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_seq"))
      .orderBy("user_id")
  }

  /** CUSUM changepoint per event type: with v = value ×10⁴ (exact
    * BIGINT), the mean-free cumulative sum at position t is
    *   S'_t = n·Σ_{i≤t} v_i − t·Σ v_i
    * (the textbook S_t = Σ (v_i − mean) scaled by n — no division, so
    * every row is an EXACT integer in both engines). The reported
    * changepoint is the position of max |S'| (earliest on ties), with
    * the peak value and drift direction.
    *
    * 100 TB shape: the per-type prefix sums ride ONE
    * [[ScalableWindows.globalRunningSum]] pass over (event_type, ts,
    * event_id) — range-partitioned local windows plus a ≤`parts`-row
    * driver fold, never a corpus-sized single-partition window; the
    * per-type offsets are a 5-row broadcast. Sums accumulate in
    * DECIMAL(38,0) ≡ HUGEINT (n·prefix overflows BIGINT past ~10⁹
    * events per type); the OUTPUT peak is cast BIGINT, exact while
    * |S'| < 2⁶³ — at larger scales report in coarser units. */
  val q134CusumChangepoint: Q = Q(
    "q134_cusum_changepoint",
    """WITH v AS (
      |  SELECT event_type, ts, event_id,
      |    CAST(FLOOR(value * 10000.0 + 0.5) AS HUGEINT) AS v4
      |  FROM events),
      |tot AS (SELECT event_type, COUNT(*)::HUGEINT AS n, SUM(v4) AS sv
      |        FROM v GROUP BY 1),
      |pre AS (
      |  SELECT v.event_type, v.ts, v.event_id,
      |    ROW_NUMBER() OVER (PARTITION BY v.event_type
      |                       ORDER BY v.ts, v.event_id) AS t,
      |    SUM(v4) OVER (PARTITION BY v.event_type
      |                  ORDER BY v.ts, v.event_id
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS pv
      |  FROM v),
      |s AS (
      |  SELECT p.event_type, p.ts, p.t,
      |    tot.n * p.pv - CAST(p.t AS HUGEINT) * tot.sv AS sp
      |  FROM pre p JOIN tot ON tot.event_type = p.event_type),
      |r AS (
      |  SELECT event_type, ts AS change_ts, t AS pos,
      |    CAST(sp AS BIGINT) AS s_peak,
      |    CASE WHEN sp >= 0 THEN 1 ELSE -1 END AS direction,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY ABS(sp) DESC, t ASC) AS rk
      |  FROM s)
      |SELECT event_type, change_ts, pos, s_peak, direction
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, d) =>
    val v = events(s, d).select(
      col("event_type"), col("ts"), col("event_id"),
      floor(col("value") * 10000.0 + 0.5).cast(dec).as("v4"))
    // one global two-pass running sum over (type, ts, id); within-type
    // prefixes recovered by subtracting the per-type exclusive offsets
    val g = ScalableWindows.globalRunningSum(
      v.withColumn("v4l", col("v4").cast("long")),
      Seq(col("event_type"), col("ts"), col("event_id")),
      col("v4l"), "grn", "gsum")
    // r16: per-type totals from the CHECKPOINTED two-pass output (same
    // rows as v — g carries every v column) instead of a second corpus
    // aggregation; identical integers
    val tot = g.groupBy("event_type")
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("v4")).as("sv"))
    val offW = org.apache.spark.sql.expressions.Window
      .orderBy("event_type")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // ≤5-row relation: the unpartitioned window is bounded by the
    // event-type cardinality, not the corpus
    val offs = tot
      .withColumn("rnoff", coalesce(sum(col("n").cast("long")).over(offW), lit(0L)))
      .withColumn("sumoff", coalesce(sum(col("sv").cast("long")).over(offW), lit(0L)))
    val sp = g.join(broadcast(offs), "event_type")
      .withColumn("t", (col("grn") - col("rnoff")).cast(dec))
      .withColumn("pv", (col("gsum") - col("sumoff")).cast(dec))
      .withColumn("sp", col("n") * col("pv") - col("t") * col("sv"))
    sp.groupBy("event_type")
      .agg(max(struct(abs(col("sp")).as("a"),
        (-col("t")).as("negt"), col("sp").as("sp"),
        col("ts").as("ts"))).as("m"))
      .select(col("event_type"),
        col("m.ts").as("change_ts"),
        (-col("m.negt")).cast("long").as("pos"),
        col("m.sp").cast("long").as("s_peak"),
        when(col("m.sp") >= 0, 1).otherwise(-1).as("direction"))
      .orderBy("event_type")
  }

  private val HllM = 256 // 2^8 registers
  /** hash width beyond the bucket byte: md5-60bit >> 8 = 52 bits, so
    * ranks run 1..53 and register sums fit 2^53 fixed point exactly */
  private val HllW = 52
  /** register sums in 2^(W+1) fixed point: Σ 2^(53 − M_j) is an exact
    * BIGINT (M_j ≤ 53, 256 terms ≤ 2^61), so the harmonic mean needs
    * no cross-row double accumulation */
  private val HllFix = 1L << (HllW + 1)
  /** α_m·m²·2⁵³ for m = 256, computed ONCE here and inlined as the
    * same double literal in both engines */
  private val HllC: Double =
    (0.7213 / (1.0 + 1.079 / HllM)) * (HllM.toDouble * HllM.toDouble) *
      HllFix.toDouble

  /** Portable HyperLogLog audit: per event type, the 256-register HLL
    * estimate of distinct users NEXT TO the exact distinct count — the
    * `uniqCombined`-style estimator a pipeline owner audits before
    * trusting sketched cardinalities, with the WHOLE estimator (hash,
    * registers, harmonic mean, linear-counting correction)
    * oracle-checked bit-for-bit, unlike the datasketches-backed
    * `q62_hll_union` whose estimates carry a tolerance.
    *
    * Portability: the hash is the md5-60-bit fold both engines share
    * with the simhash tier (leading 15 hex chars of md5(user id) as a
    * BIGINT — uniform mixing, unlike the base-31 poly hash whose
    * low-bit structure biased buckets ~25% in the first cut), the
    * register rank is an integer comparison ladder (no log2 floats),
    * register sums are exact 2⁵³ fixed-point BIGINTs, and the two
    * constants (α·m²·2⁵³ and the ≤ 2.5m cutoff) are single inlined
    * double literals — the only float ops are one division and, on the
    * small-range branch, the [[graft.functions.PortableLn]] ladder for
    * linear counting m·ln(m/V). 100 TB shape: ONE map-combined hash
    * agg to (type, bucket) registers (≤ types×256 rows), everything
    * after is register-bounded. */
  val q136HllPortable: Q = {
    // (W+1) − bit_length(r) comparison ladder, mirrored textually
    def duckRank: String =
      ((HllW - 1) to 0 by -1).map(j => s"WHEN r >= ${1L << j} THEN ${HllW - j}")
        .mkString("CASE ", " ", s" ELSE ${HllW + 1} END")
    Q("q136_hll_portable",
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 15)
         |      AS BIGINT) AS hv
         |  FROM events),
         |rr AS (SELECT event_type, hv % $HllM AS bucket, hv // $HllM AS r
         |       FROM h),
         |rk AS (SELECT event_type, bucket, ($duckRank) AS rank FROM rr),
         |regs0 AS (SELECT event_type, bucket, MAX(rank) AS mj
         |          FROM rk GROUP BY 1, 2),
         |spine AS (
         |  SELECT t.event_type, b.bucket
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN (SELECT UNNEST(RANGE(0, $HllM)) AS bucket) b),
         |regs AS (
         |  SELECT s.event_type, COALESCE(r.mj, 0) AS mj
         |  FROM spine s LEFT JOIN regs0 r
         |    ON r.event_type = s.event_type AND r.bucket = s.bucket),
         |agg AS (
         |  SELECT event_type,
         |    SUM(1::BIGINT << (53 - mj))::BIGINT AS s_fix,
         |    SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END)::BIGINT AS v_empty
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact
         |       FROM events GROUP BY 1),
         |withx AS (
         |  SELECT a.event_type, a.s_fix, a.v_empty, ex.n_exact,
         |    CASE WHEN a.v_empty > 0
         |      THEN ${HllM}.0::DOUBLE / a.v_empty ELSE 1.0::DOUBLE END AS x,
         |    $HllC::DOUBLE / CAST(a.s_fix AS DOUBLE) AS est_raw
         |  FROM agg a JOIN ex ON ex.event_type = a.event_type),
         |lnx AS (${graft.functions.PortableLn.sqlStages(
             "withx", Seq("event_type", "s_fix", "v_empty", "n_exact", "est_raw"),
             "x", "lnv")})
         |SELECT event_type, n_exact, v_empty, s_fix,
         |  CASE WHEN est_raw <= ${HllM * 5 / 2}.0::DOUBLE AND v_empty > 0
         |    THEN ${HllM}.0::DOUBLE * lnv ELSE est_raw END AS est
         |FROM lnx
         |ORDER BY event_type""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val regs0 = hllRanks(ev)
        .groupBy("event_type", "bucket").agg(max("rank").as("mj"))
      val ex = ev.groupBy("event_type")
        .agg(countDistinct("user_id").cast("long").as("n_exact"))
      hllEstimate(regs0, ev.select("event_type").distinct())
        .join(ex, "event_type")
        .select("event_type", "n_exact", "v_empty", "s_fix", "est")
        .orderBy("event_type")
    }
  }

  /** (event_type, bucket, rank) register contributions — one row per
    * event; max per (type, bucket) is the register. Order-free and
    * duplicate-insensitive, which is what makes the sketch mergeable
    * across micro-batches
    * ([[graft.streaming.HllState]]). */
  private[graft] def hllRanks(ev: DataFrame): DataFrame = {
    val sparkRank: org.apache.spark.sql.Column =
      ((HllW - 1) to 0 by -1).foldRight(
        lit(HllW + 1): org.apache.spark.sql.Column) {
        (j, els) => when(col("r") >= (1L << j), HllW - j).otherwise(els)
      }
    ev.select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("hv"))
      .select(col("event_type"), (col("hv") % HllM).as("bucket"),
        expr(s"hv div $HllM").as("r"))
      .withColumn("rank", sparkRank)
      .select("event_type", "bucket", "rank")
  }

  /** (event_type, v_empty, s_fix, est) from max-rank registers
    * (`regs0`: event_type, bucket, mj — present buckets only; `types`
    * supplies the event_type spine). */
  private[graft] def hllEstimate(regs0: DataFrame, types: DataFrame): DataFrame = {
    val spine = types
      .select(col("event_type"),
        explode(sequence(lit(0), lit(HllM - 1))).as("bucket0"))
      .select(col("event_type"), col("bucket0").cast("long").as("bucket"))
    val regs = spine.join(regs0, Seq("event_type", "bucket"), "left")
      .withColumn("mj", coalesce(col("mj"), lit(0)))
    val agg = regs.groupBy("event_type")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - mj AS INT))"))
          .cast("long").as("s_fix"),
        sum(when(col("mj") === 0, 1L).otherwise(0L)).as("v_empty"))
    val withx = agg
      .withColumn("x", when(col("v_empty") > 0,
        lit(HllM.toDouble) / col("v_empty")).otherwise(lit(1.0)))
      .withColumn("est_raw", lit(HllC) / col("s_fix").cast("double"))
    graft.functions.PortableLn.withLn(withx, "x", "lnv")
      .withColumn("est",
        when(col("est_raw") <= lit(HllM * 5 / 2).cast("double") &&
          col("v_empty") > 0, lit(HllM.toDouble) * col("lnv"))
          .otherwise(col("est_raw")))
      .select("event_type", "v_empty", "s_fix", "est")
  }

  val all: Seq[Q] = Seq(q132SequenceCount, q134CusumChangepoint,
    q136HllPortable)
}
