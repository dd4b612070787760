package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.Tables._
import graft.functions.PortableLn
import graft.operators.TextAnalysis3.FixScale

/** Fourteenth event-analytics batch: time-to-event and model-eval
  * surfaces — a Kaplan–Meier survival curve (the churn/conversion
  * analysis a product team runs where naive "average time to X"
  * silently drops everyone who has not converted yet), and the
  * decile lift/gains table (the standard campaign-targeting readout
  * for any propensity score). Reference scope: the ClickHouse side of
  * `/root/reference/main.py:12-55` owns arbitrary OLAP SQL over the
  * replicated tables; these are the survival/uplift members of that
  * surface. Exact integer arithmetic end-to-end; logs go through the
  * [[graft.functions.PortableLn]] ladder and cross-row accumulation
  * happens in ×2⁴⁰ fixed-point BIGINTs, so both engines fold identical
  * integers (the `text_zipf_fit` discipline).
  */
object EventAnalytics14 {

  /** Kaplan–Meier log-survival of signup → first purchase, per
    * signup-week cohort, with right-censoring at the global
    * observation end (max ts over ALL events): users who never
    * purchase contribute at-risk time up to the study end instead of
    * being dropped (the bias [[EventAnalytics13.q139TimeToConvert]]'s
    * converters-only percentiles deliberately accept, and this query
    * removes). Durations are whole minutes (exact BIGINT µs floor
    * division). For each cohort and each distinct event time t:
    * n_risk = subjects with duration ≥ t, d_events = purchases at
    * exactly t, and log S(t) = Σ_{u ≤ t} [ln(n_u − d_u) − ln(n_u)] —
    * the product-limit estimator in log space, because a cross-engine
    * bit-exact PRODUCT of doubles does not exist while a fixed-point
    * SUM does: each ln runs the PortableLn ladder, each step quantizes
    * to ×2⁴⁰ BIGINT, and the running sum is exact. Terminal rows where
    * the risk set dies out entirely (n = d, log S = −∞) are excluded
    * in both engines. The one double division per row happens at the
    * very end.
    *
    * 100 TB shape: two min-aggs keyed by user (map-combined), a
    * user-keyed left join against the purchase relation, one scalar
    * max broadcast — then everything is (cohort, minute)-bounded: the
    * at-risk counts come from a DESCENDING cumulative window over the
    * per-cohort duration VALUE spine (never a subject-sized sort), the
    * PortableLn ladder runs 2·|spine| rows, and the survival scan is a
    * second spine window. */
  val q143SurvivalKm: Q = Q(
    "q143_survival_km",
    s"""WITH su AS (
       |  SELECT user_id, MIN(ts) AS s_ts FROM events
       |  WHERE event_type = 'signup' GROUP BY 1),
       |pu AS (
       |  SELECT user_id, MIN(ts) AS p_ts FROM events
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |mx AS (SELECT MAX(ts) AS m_ts FROM events),
       |subj AS (
       |  SELECT
       |    CAST(DATE_TRUNC('week', CAST(su.s_ts AS DATE)) AS DATE)
       |      AS cohort_week,
       |    CASE WHEN pu.p_ts IS NOT NULL
       |         THEN EPOCH_US(pu.p_ts - su.s_ts) // 60000000
       |         ELSE EPOCH_US(mx.m_ts - su.s_ts) // 60000000 END AS t_min,
       |    CASE WHEN pu.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
       |  FROM su LEFT JOIN pu ON pu.user_id = su.user_id CROSS JOIN mx
       |  WHERE pu.p_ts IS NULL OR pu.p_ts >= su.s_ts),
       |vc AS (
       |  SELECT cohort_week, t_min,
       |    CAST(SUM(ev) AS BIGINT) AS d, COUNT(*)::BIGINT AS c
       |  FROM subj GROUP BY 1, 2),
       |risk AS (
       |  SELECT cohort_week, t_min, d,
       |    CAST(SUM(c) OVER (PARTITION BY cohort_week ORDER BY t_min DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n
       |  FROM vc),
       |spine AS (
       |  SELECT cohort_week, t_min, d, n FROM risk WHERE d >= 1 AND n > d),
       |l1 AS (${PortableLn.sqlStages(
             "(SELECT cohort_week, t_min, d, n, CAST(n - d AS DOUBLE) AS x FROM spine)",
             Seq("cohort_week", "t_min", "d", "n"), "x", "ln_nd")}),
       |l2 AS (${PortableLn.sqlStages(
             "(SELECT cohort_week, t_min, d, n, ln_nd, CAST(n AS DOUBLE) AS x FROM l1)",
             Seq("cohort_week", "t_min", "d", "n", "ln_nd"), "x", "ln_n")}),
       |q AS (
       |  SELECT cohort_week, t_min, d, n,
       |    CAST(FLOOR((ln_nd - ln_n) * $FixScale::DOUBLE + 0.5::DOUBLE)
       |      AS BIGINT) AS qs
       |  FROM l2),
       |c AS (
       |  SELECT cohort_week, t_min, n, d,
       |    CAST(SUM(qs) OVER (PARTITION BY cohort_week ORDER BY t_min
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS ls
       |  FROM q)
       |SELECT cohort_week, t_min, n AS n_risk, d AS d_events,
       |  CAST(ls AS DOUBLE) / $FixScale::DOUBLE AS log_surv
       |FROM c
       |ORDER BY cohort_week, t_min""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    val mx = ev.agg(max("ts").as("m_ts"))
    survivalFromState(su, pu, mx)
  }

  /** [[q143SurvivalKm]]'s tail over already-built state relations —
    * per-user first signup (`user_id, s_ts`), per-user first purchase
    * (`user_id, p_ts`), and the single-row observation end
    * (`m_ts`) — factored out so the ST6 incremental twin
    * ([[graft.streaming.SurvivalState]]) runs the IDENTICAL
    * estimator over its cumulative per-user state: golden ≡ one-shot
    * holds structurally. The state is a JOIN-SEMILATTICE
    * (min, min, max), so the twin absorbs both arrival order AND
    * duplicate delivery, the HLL-twin contract. */
  private[graft] def survivalFromState(
      su: org.apache.spark.sql.DataFrame,
      pu: org.apache.spark.sql.DataFrame,
      mx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val subj = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(mx))
      .filter(col("p_ts").isNull || col("p_ts") >= col("s_ts"))
      .select(
        date_trunc("week", col("s_ts").cast("date")).cast("date")
          .as("cohort_week"),
        when(col("p_ts").isNotNull,
          expr("(unix_micros(p_ts) - unix_micros(s_ts)) div 60000000"))
          .otherwise(
            expr("(unix_micros(m_ts) - unix_micros(s_ts)) div 60000000"))
          .as("t_min"),
        when(col("p_ts").isNotNull, 1).otherwise(0).as("ev"))
    val vc = subj.groupBy("cohort_week", "t_min")
      .agg(sum("ev").cast("long").as("d"), count(lit(1)).as("c"))
    val wDesc = Window.partitionBy("cohort_week").orderBy(col("t_min").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val spine = vc
      .withColumn("n", sum("c").over(wDesc).cast("long"))
      .filter(col("d") >= 1 && col("n") > col("d"))
      .select("cohort_week", "t_min", "d", "n")
    val l1 = PortableLn.withLn(
      spine.withColumn("x", (col("n") - col("d")).cast("double")), "x", "ln_nd")
    val l2 = PortableLn.withLn(
      l1.withColumn("x", col("n").cast("double")), "x", "ln_n")
    val wAsc = Window.partitionBy("cohort_week").orderBy("t_min")
      .rowsBetween(Window.unboundedPreceding, 0)
    l2.withColumn("qs",
        floor((col("ln_nd") - col("ln_n")) * FixScale + lit(0.5)).cast("long"))
      .withColumn("ls", sum("qs").over(wAsc).cast("long"))
      .select(col("cohort_week"), col("t_min"),
        col("n").as("n_risk"), col("d").as("d_events"),
        (col("ls").cast("double") / FixScale).as("log_surv"))
      .orderBy("cohort_week", "t_min")
  }

  /** Decile lift & gains: score every user by even-day view activity,
    * take odd-day purchase as the response, split the population into
    * score deciles and report per-decile response rate vs the base
    * rate (lift) plus the cumulative share of all responders captured
    * down the ranking (gain — the targeting budget curve). Deciles are
    * assigned by VALUE: every user with the same score lands in the
    * decile of the run's first rank (rank_start·10 div n), so the
    * assignment is deterministic without a subject-level tiebreak and
    * collapsing buckets on heavy score ties is explicit rather than
    * arbitrary. Lift/gain are single chains of double divisions of
    * exact BIGINTs, mirrored op-for-op.
    *
    * 100 TB shape: ONE map-combined hash agg keyed by user builds
    * (score, responded); a second collapses users to the score VALUE
    * spine — every window after that runs over score cardinality, and
    * the decile table itself is ≤ 10 rows. No subject-level join,
    * rank, or sort anywhere. */
  val q144DecileLift: Q = Q(
    "q144_decile_lift",
    """WITH base AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'view'
      |          AND EXTRACT(DAY FROM ts)::BIGINT % 2 = 0
      |          THEN 1 ELSE 0 END) AS BIGINT) AS score,
      |    MAX(CASE WHEN event_type = 'purchase'
      |          AND EXTRACT(DAY FROM ts)::BIGINT % 2 = 1
      |          THEN 1 ELSE 0 END) AS resp
      |  FROM events GROUP BY 1),
      |vc AS (
      |  SELECT score, COUNT(*)::BIGINT AS nu,
      |    CAST(SUM(resp) AS BIGINT) AS nr
      |  FROM base GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(nu) AS BIGINT) AS n, CAST(SUM(nr) AS BIGINT) AS r
      |  FROM vc),
      |rk AS (
      |  SELECT score, nu, nr,
      |    CAST(COALESCE(SUM(nu) OVER (ORDER BY score DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS rank_start
      |  FROM vc),
      |agg AS (
      |  SELECT CAST((rank_start * 10) // n AS BIGINT) AS decile,
      |    CAST(SUM(nu) AS BIGINT) AS n_users, CAST(SUM(nr) AS BIGINT) AS n_resp
      |  FROM rk CROSS JOIN tot
      |  GROUP BY 1),
      |cum AS (
      |  SELECT decile, n_users, n_resp,
      |    CAST(SUM(n_resp) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_resp
      |  FROM agg)
      |SELECT decile, n_users, n_resp,
      |  (CAST(n_resp AS DOUBLE) / CAST(n_users AS DOUBLE)) /
      |    (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) AS lift,
      |  CAST(cum_resp AS DOUBLE) / CAST(r AS DOUBLE) AS gain
      |FROM cum CROSS JOIN tot
      |ORDER BY decile""".stripMargin) { (s, d) =>
    val base = events(s, d).groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "view" &&
          dayofmonth(col("ts")).cast("long") % 2 === 0, 1).otherwise(0))
          .cast("long").as("score"),
        max(when(col("event_type") === "purchase" &&
          dayofmonth(col("ts")).cast("long") % 2 === 1, 1).otherwise(0))
          .as("resp"))
    val vc = base.groupBy("score")
      .agg(count(lit(1)).as("nu"), sum("resp").cast("long").as("nr"))
    val tot = vc.agg(sum("nu").cast("long").as("n"),
      sum("nr").cast("long").as("r"))
    // score-spine window (bounded by score cardinality, whitelisted)
    val wRank = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = vc
      .withColumn("rank_start",
        coalesce(sum("nu").over(wRank), lit(0L)).cast("long"))
      .crossJoin(broadcast(tot))
      .groupBy(expr("(rank_start * 10) div n").cast("long").as("decile"))
      .agg(sum("nu").cast("long").as("n_users"),
        sum("nr").cast("long").as("n_resp"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    agg
      .withColumn("cum_resp", sum("n_resp").over(wCum).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("n_resp"),
        ((col("n_resp").cast("double") / col("n_users").cast("double")) /
          (col("r").cast("double") / col("n").cast("double"))).as("lift"),
        (col("cum_resp").cast("double") / col("r").cast("double")).as("gain"))
      .orderBy("decile")
  }

  private val FunnelWindowUs = 48L * 3600 * 1000000 // q89's window

  /** ClickHouse-`windowFunnel` STRICT modes next to
    * [[EventAnalytics3.q89WindowFunnel]]'s default (lenient) mode, per
    * user over the view → click → purchase chain in the same 48 h
    * window:
    *
    *   - `level_strict_order`: the chain steps must be CONSECUTIVE in
    *     the user's full event stream — ANY intervening event (a
    *     signup, an error, a second view) breaks the chain, which may
    *     restart at a later view (the ClickHouse `strict_order`
    *     example: in A→B→D→C the D stops the match at level 2).
    *   - `level_strict_dedup`: the chain steps must be consecutive
    *     within the user's FUNNEL-CONDITION substream (view/click/
    *     purchase rows only) — a repeated or out-of-order condition
    *     event between steps breaks the chain, while non-condition
    *     events (signup, error) are ignored, the `strict_dedup`
    *     reading where only condition repeats interrupt.
    *
    * Both are "longest chain anywhere in the stream": every row sees
    * its next one/two events via LEAD and scores the chain it starts;
    * the per-user level is the max. Chain timing uses the window
    * bound end-to-start (t₂ − t₀ ≤ 48 h), matching q89.
    *
    * 100 TB shape: two user-partitioned single-pass windows (LEAD
    * frames; the full stream and the condition substream), each
    * followed by a map-combined max-agg — no self-joins, no anchor
    * re-scans. The user-keyed left join at the end is |users|-sized
    * on both sides. */
  val q145WindowFunnelStrict: Q = Q(
    "q145_window_funnel_strict",
    s"""WITH e AS (
       |  SELECT user_id, event_type, EPOCH_US(ts) AS t, event_id
       |  FROM events),
       |f1 AS (
       |  SELECT user_id, event_type, t,
       |    LEAD(event_type, 1) OVER w AS y1, LEAD(t, 1) OVER w AS t1,
       |    LEAD(event_type, 2) OVER w AS y2, LEAD(t, 2) OVER w AS t2
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |so AS (
       |  SELECT user_id,
       |    CAST(MAX(CASE
       |      WHEN event_type = 'view' AND y1 = 'click' AND y2 = 'purchase'
       |           AND t2 - t <= $FunnelWindowUs THEN 3
       |      WHEN event_type = 'view' AND y1 = 'click'
       |           AND t1 - t <= $FunnelWindowUs THEN 2
       |      WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS level_strict_order
       |  FROM f1 GROUP BY 1),
       |s AS (
       |  SELECT user_id, event_type, t, event_id FROM e
       |  WHERE event_type IN ('view', 'click', 'purchase')),
       |f2 AS (
       |  SELECT user_id, event_type, t,
       |    LEAD(event_type, 1) OVER w AS y1, LEAD(t, 1) OVER w AS t1,
       |    LEAD(event_type, 2) OVER w AS y2, LEAD(t, 2) OVER w AS t2
       |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
       |sd AS (
       |  SELECT user_id,
       |    CAST(MAX(CASE
       |      WHEN event_type = 'view' AND y1 = 'click' AND y2 = 'purchase'
       |           AND t2 - t <= $FunnelWindowUs THEN 3
       |      WHEN event_type = 'view' AND y1 = 'click'
       |           AND t1 - t <= $FunnelWindowUs THEN 2
       |      WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS level_strict_dedup
       |  FROM f2 GROUP BY 1)
       |SELECT so.user_id, so.level_strict_order,
       |  CAST(COALESCE(sd.level_strict_dedup, 0) AS BIGINT)
       |    AS level_strict_dedup
       |FROM so LEFT JOIN sd ON sd.user_id = so.user_id
       |ORDER BY so.user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val e = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("t"), col("event_id"))
    def levels(rel: org.apache.spark.sql.DataFrame, out: String) = rel
      .withColumn("y1", lead(col("event_type"), 1).over(w))
      .withColumn("t1", lead(col("t"), 1).over(w))
      .withColumn("y2", lead(col("event_type"), 2).over(w))
      .withColumn("t2", lead(col("t"), 2).over(w))
      .groupBy("user_id")
      .agg(max(
        when(col("event_type") === "view" && col("y1") === "click" &&
          col("y2") === "purchase" &&
          col("t2") - col("t") <= FunnelWindowUs, 3)
          .when(col("event_type") === "view" && col("y1") === "click" &&
            col("t1") - col("t") <= FunnelWindowUs, 2)
          .when(col("event_type") === "view", 1)
          .otherwise(0)).cast("long").as(out))
    val so = levels(e, "level_strict_order")
    val sd = levels(
      e.filter(col("event_type").isin("view", "click", "purchase")),
      "level_strict_dedup")
      .withColumnRenamed("user_id", "sd_user")
    so.join(sd, col("user_id") === col("sd_user"), "left")
      .select(col("user_id"), col("level_strict_order"),
        coalesce(col("level_strict_dedup"), lit(0L)).cast("long")
          .as("level_strict_dedup"))
      .orderBy("user_id")
  }

  /** Holt double-exponential smoothing (level + trend, α = β = ½) over
    * each user's time-ordered readings, in EXACT integer arithmetic —
    * the trend-aware member of the forecasting family
    * ([[EventAnalytics3.q90Ewma]] = level only,
    * [[EventAnalytics13]]'s seasonal-naive = seasonality only). State
    * is the pair (l, b); the first reading seeds l = v, b = 0, and
    * each step folds
    *   l' = ⌊(v + l + b) / 2⌋,  b' = ⌊(b + (l' − l)) / 2⌋
    * in ×10⁴ fixed-point BIGINTs with TRUNCATING division on both
    * engines. Measured engine fact this query depends on (and q90
    * never exercised, its state being non-negative): DuckDB 1.0.0's
    * integer `//` truncates toward zero (−7 // 2 = −3), exactly like
    * Spark's `div` — it floors only for DOUBLE operands. The Spark
    * fold therefore halves via the double→long CAST (which truncates),
    * NOT via `floor(x / 2.0)` (which floors and diverges by 1 on every
    * odd negative sum — l' − l IS negative on falling series, and the
    * first draft failed the oracle by exactly that ulp). Output: final
    * level, trend, and the one-step-ahead forecast l + b, each one
    * double division at the end.
    *
    * 100 TB shape: ONE hash agg on user_id builds the time-ordered
    * per-user value array (per-user activity-bounded, the q90/q34
    * convention), then the fold is per-row map work. The oracle
    * restates the scan as a recursive CTE — grouped LIST_REDUCE folds
    * are broken in DuckDB (the q88 finding), so no lambdas there. */
  val q147HoltLinear: Q = Q(
    "q147_holt_linear",
    """WITH RECURSIVE ev AS (
      |  SELECT user_id,
      |    CAST(FLOOR(value * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS v4,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
      |  FROM events),
      |n AS (SELECT user_id, COUNT(*)::BIGINT AS n_events FROM events GROUP BY 1),
      |scan AS (
      |  SELECT user_id, 0::BIGINT AS i, 0::BIGINT AS l, 0::BIGINT AS b,
      |    TRUE AS empty
      |  FROM n
      |  UNION ALL
      |  SELECT s.user_id, s.i + 1,
      |    CASE WHEN s.empty THEN e.v4
      |         ELSE (e.v4 + s.l + s.b) // 2 END,
      |    CASE WHEN s.empty THEN 0::BIGINT
      |         ELSE (s.b + ((e.v4 + s.l + s.b) // 2) - s.l) // 2 END,
      |    FALSE
      |  FROM scan s JOIN ev e ON e.user_id = s.user_id AND e.i = s.i + 1)
      |SELECT n.user_id, n.n_events,
      |  CAST(s.l AS DOUBLE) / 10000.0::DOUBLE AS level,
      |  CAST(s.b AS DOUBLE) / 10000.0::DOUBLE AS trend,
      |  CAST(s.l + s.b AS DOUBLE) / 10000.0::DOUBLE AS forecast
      |FROM n JOIN scan s ON s.user_id = n.user_id AND s.i = n.n_events
      |ORDER BY n.user_id""".stripMargin) { (s, d) =>
    val arr = events(s, d)
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          floor(col("value") * 10000.0 + 0.5).cast("long").as("v4")).as("r"))
      .groupBy("user_id")
      .agg(array_sort(collect_list(col("r"))).as("ord"))
      .select(col("user_id"),
        transform(col("ord"), r => r.getField("v4")).as("vs"))
    arr.select(col("user_id"),
        size(col("vs")).cast("bigint").as("n_events"),
        // Long.MinValue on l flags "no value folded yet" (first reading
        // seeds the state), exactly the q90 sentinel convention
        aggregate(col("vs"),
          struct(lit(Long.MinValue).as("l"), lit(0L).as("b")),
          (st, v) => {
            val l0 = st.getField("l"); val b0 = st.getField("b")
            // double→long cast truncates toward zero ≡ DuckDB `//`
            val lp = ((v + l0 + b0).cast("double") / 2.0).cast("long")
            when(l0 === Long.MinValue,
              struct(v.as("l"), lit(0L).as("b")))
              .otherwise(struct(lp.as("l"),
                ((b0 + lp - l0).cast("double") / 2.0).cast("long")
                  .as("b")))
          }).as("st"))
      .select(col("user_id"), col("n_events"),
        (col("st.l").cast("double") / 10000.0).as("level"),
        (col("st.b").cast("double") / 10000.0).as("trend"),
        ((col("st.l") + col("st.b")).cast("double") / 10000.0).as("forecast"))
      .orderBy("user_id")
  }

  /** Difference-in-differences — the workhorse causal estimator a
    * product team runs on any staged rollout: treatment = odd user_id
    * (the deterministic assignment a hash-bucketed experiment gives),
    * pre/post = first vs second half of the calendar month, outcome =
    * purchase value. The 2×2 cell means are exact DECIMAL sums over
    * exact counts (one double division each, the `Tables.davg`
    * discipline), and the DiD effect
    * (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    * is a fixed chain over those four doubles — mirrored op-for-op.
    * Output: the four cells (each carrying n and mean) plus the effect
    * repeated per row, so the table reads as the standard DiD panel.
    *
    * 100 TB shape: ONE map-combined hash agg to 4 cells; everything
    * after is constant-size. */
  val q148DiffInDiff: Q = Q(
    "q148_diff_in_diff",
    """WITH cells AS (
      |  SELECT (user_id % 2)::BIGINT AS treat,
      |    CASE WHEN EXTRACT(DAY FROM ts)::BIGINT <= 15
      |         THEN 'pre' ELSE 'post' END AS period,
      |    COUNT(*)::BIGINT AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      |      AS mean_val
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1, 2),
      |eff AS (
      |  SELECT
      |    (MAX(CASE WHEN treat = 1 AND period = 'post' THEN mean_val END)
      |     - MAX(CASE WHEN treat = 1 AND period = 'pre' THEN mean_val END))
      |    - (MAX(CASE WHEN treat = 0 AND period = 'post' THEN mean_val END)
      |       - MAX(CASE WHEN treat = 0 AND period = 'pre' THEN mean_val END))
      |      AS did_effect
      |  FROM cells)
      |SELECT treat, period, n, mean_val, eff.did_effect
      |FROM cells CROSS JOIN eff
      |ORDER BY treat, period""".stripMargin) { (s, d) =>
    val cells = events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy((col("user_id") % 2).cast("long").as("treat"),
        when(dayofmonth(col("ts")).cast("long") <= 15, "pre")
          .otherwise("post").as("period"))
      .agg(count(lit(1)).as("n"), davg(val4(col("value"))).as("mean_val"))
    val eff = cells.agg(
      ((max(when(col("treat") === 1 && col("period") === "post",
        col("mean_val"))) -
        max(when(col("treat") === 1 && col("period") === "pre",
          col("mean_val")))) -
        (max(when(col("treat") === 0 && col("period") === "post",
          col("mean_val"))) -
          max(when(col("treat") === 0 && col("period") === "pre",
            col("mean_val"))))).as("did_effect"))
    cells.crossJoin(broadcast(eff))
      .select("treat", "period", "n", "mean_val", "did_effect")
      .orderBy("treat", "period")
  }

  /** Marketing-touch attribution: every purchase is attributed to the
    * LAST and to the FIRST non-purchase event in the 48 h lookback
    * window before it (the two canonical single-touch models; their
    * disagreement per channel is exactly what a marketing team
    * inspects before buying a multi-touch model). The "which event"
    * question is answered INSIDE one window pass: each candidate
    * event packs into a fixed-width sortable tag
    * `%020d(t) ‖ %020d(event_id) ‖ type`, so MIN/MAX of the tag over
    * the RANGE frame [t−48h, t) ARE the first/last touch (string order
    * ≡ (t, event_id) order at fixed width), and the channel comes back
    * out with one SUBSTR — no argmax window primitive needed, no
    * self-join against the event stream (both engines lack a windowed
    * max_by; the q89 anchor machinery would need a join to recover the
    * type). Conversions with an empty lookback window attribute to
    * neither model.
    *
    * 100 TB shape: ONE user-partitioned RANGE window pass over the
    * event stream, then a map-combined channel agg; the two models'
    * counts full-outer join on the ≤|event_types| channel table. */
  val q149Attribution: Q = Q(
    "q149_attribution",
    s"""WITH e AS (
       |  SELECT user_id, event_type, EPOCH_US(ts) AS t, event_id
       |  FROM events),
       |tagged AS (
       |  SELECT user_id, event_type, t,
       |    MAX(CASE WHEN event_type <> 'purchase'
       |        THEN printf('%020d', t) || printf('%020d', event_id)
       |             || event_type END)
       |      OVER (PARTITION BY user_id ORDER BY t
       |            RANGE BETWEEN $FunnelWindowUs PRECEDING AND 1 PRECEDING)
       |      AS lt,
       |    MIN(CASE WHEN event_type <> 'purchase'
       |        THEN printf('%020d', t) || printf('%020d', event_id)
       |             || event_type END)
       |      OVER (PARTITION BY user_id ORDER BY t
       |            RANGE BETWEEN $FunnelWindowUs PRECEDING AND 1 PRECEDING)
       |      AS ft
       |  FROM e),
       |conv AS (
       |  SELECT SUBSTR(lt, 41) AS last_ch, SUBSTR(ft, 41) AS first_ch
       |  FROM tagged WHERE event_type = 'purchase'),
       |lc AS (SELECT last_ch AS channel, COUNT(*)::BIGINT AS n_last
       |       FROM conv WHERE last_ch IS NOT NULL GROUP BY 1),
       |fc AS (SELECT first_ch AS channel, COUNT(*)::BIGINT AS n_first
       |       FROM conv WHERE first_ch IS NOT NULL GROUP BY 1)
       |SELECT COALESCE(lc.channel, fc.channel) AS channel,
       |  CAST(COALESCE(lc.n_last, 0) AS BIGINT) AS n_last_touch,
       |  CAST(COALESCE(fc.n_first, 0) AS BIGINT) AS n_first_touch
       |FROM lc FULL OUTER JOIN fc ON fc.channel = lc.channel
       |ORDER BY channel""".stripMargin) { (s, d) =>
    val wr = Window.partitionBy("user_id").orderBy("t")
      .rangeBetween(-FunnelWindowUs, -1)
    val tag = when(col("event_type") =!= "purchase",
      concat(format_string("%020d", col("t")),
        format_string("%020d", col("event_id")), col("event_type")))
    val tagged = events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), col("event_id"))
      .withColumn("lt", max(tag).over(wr))
      .withColumn("ft", min(tag).over(wr))
    val conv = tagged.filter(col("event_type") === "purchase")
      .select(substring(col("lt"), 41, 1000).as("last_ch"),
        substring(col("ft"), 41, 1000).as("first_ch"))
      .localCheckpoint(true) // conversion-bounded; feeds two aggs
    val lc = conv.filter(col("last_ch").isNotNull)
      .groupBy(col("last_ch").as("channel"))
      .agg(count(lit(1)).as("n_last"))
    val fc = conv.filter(col("first_ch").isNotNull)
      .groupBy(col("first_ch").as("fchannel"))
      .agg(count(lit(1)).as("n_first"))
    lc.join(fc, col("channel") === col("fchannel"), "full_outer")
      .select(coalesce(col("channel"), col("fchannel")).as("channel"),
        coalesce(col("n_last"), lit(0L)).cast("long").as("n_last_touch"),
        coalesce(col("n_first"), lit(0L)).cast("long").as("n_first_touch"))
      .orderBy("channel")
  }

  /** CUPED variance reduction — [[q148DiffInDiff]]'s modern A/B
    * companion (Deng et al.): the pre-period covariate (each user's
    * first-half purchase value) absorbs between-user variance from the
    * post-period metric via θ = cov(pre, post)/var(pre), and the
    * report shows each treatment group's raw vs adjusted mean plus the
    * theoretical variance reduction ρ². The key to exactness: the
    * per-user adjusted VALUES are never materialized (a double per
    * user, then a mean = order-dependent float sum) — group-mean
    * algebra gives the identical adjusted mean from exact sums alone,
    * adj_g = ȳ_g − θ·(x̄_g − x̄), so every cross-user accumulation is
    * an exact DECIMAL(38,0) moment (the q97 discipline: ×10⁴ BIGINT
    * per-user totals, 128-bit-class products BEFORE the sum) and θ,
    * ρ², and the means are fixed chains of double ops over those
    * sums. ρ² is formed from double-cast components (its exact
    * numerator n·Σxy − ΣxΣy squared would overflow DECIMAL(38,0)).
    *
    * 100 TB shape: ONE user-keyed map-combined agg, then a 2-group
    * and a 1-row moment agg over the user relation; constant-size
    * everything after. */
  val q150Cuped: Q = Q(
    "q150_cuped",
    """WITH u AS (
      |  SELECT user_id, (user_id % 2)::BIGINT AS treat,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |          AND EXTRACT(DAY FROM ts)::BIGINT <= 15
      |          THEN CAST(FLOOR(value * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)
      |          ELSE 0 END) AS BIGINT) AS pre4,
      |    CAST(SUM(CASE WHEN event_type = 'purchase'
      |          AND EXTRACT(DAY FROM ts)::BIGINT > 15
      |          THEN CAST(FLOOR(value * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)
      |          ELSE 0 END) AS BIGINT) AS post4
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT COUNT(*)::BIGINT AS n,
      |    SUM(pre4)::HUGEINT AS sx, SUM(post4)::HUGEINT AS sy,
      |    SUM(CAST(pre4 AS HUGEINT) * CAST(pre4 AS HUGEINT)) AS sxx,
      |    SUM(CAST(pre4 AS HUGEINT) * CAST(post4 AS HUGEINT)) AS sxy,
      |    SUM(CAST(post4 AS HUGEINT) * CAST(post4 AS HUGEINT)) AS syy
      |  FROM u),
      |t AS (
      |  SELECT n, sx, sy,
      |    n * sxy - sx * sy AS num,
      |    n * sxx - sx * sx AS denx,
      |    n * syy - sy * sy AS deny
      |  FROM g),
      |gr AS (
      |  SELECT treat, COUNT(*)::BIGINT AS n_users,
      |    SUM(pre4)::HUGEINT AS sxg, SUM(post4)::HUGEINT AS syg
      |  FROM u GROUP BY 1)
      |SELECT gr.treat, gr.n_users,
      |  CAST(CAST(gr.syg AS VARCHAR) AS DOUBLE) / CAST(gr.n_users AS DOUBLE) / 10000.0::DOUBLE
      |    AS mean_post,
      |  CAST(CAST(gr.syg AS VARCHAR) AS DOUBLE) / CAST(gr.n_users AS DOUBLE) / 10000.0::DOUBLE
      |    - (CAST(CAST(t.num AS VARCHAR) AS DOUBLE) / CAST(CAST(t.denx AS VARCHAR) AS DOUBLE))
      |      * (CAST(CAST(gr.sxg AS VARCHAR) AS DOUBLE) / CAST(gr.n_users AS DOUBLE)
      |         - CAST(CAST(t.sx AS VARCHAR) AS DOUBLE) / CAST(t.n AS DOUBLE))
      |      / 10000.0::DOUBLE AS adj_mean,
      |  CAST(CAST(t.num AS VARCHAR) AS DOUBLE) / CAST(CAST(t.denx AS VARCHAR) AS DOUBLE) AS theta,
      |  (CAST(CAST(t.num AS VARCHAR) AS DOUBLE) * CAST(CAST(t.num AS VARCHAR) AS DOUBLE))
      |    / (CAST(CAST(t.denx AS VARCHAR) AS DOUBLE) * CAST(CAST(t.deny AS VARCHAR) AS DOUBLE))
      |    AS var_reduction
      |FROM gr CROSS JOIN t
      |ORDER BY gr.treat""".stripMargin) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v4 = floor(col("value") * 10000.0 + 0.5).cast("long")
    val u = events(s, d).groupBy(col("user_id"),
        (col("user_id") % 2).cast("long").as("treat"))
      .agg(
        sum(when(col("event_type") === "purchase" &&
          dayofmonth(col("ts")).cast("long") <= 15, v4).otherwise(0L))
          .cast("long").as("pre4"),
        sum(when(col("event_type") === "purchase" &&
          dayofmonth(col("ts")).cast("long") > 15, v4).otherwise(0L))
          .cast("long").as("post4"))
      .localCheckpoint(true) // user-bounded; feeds the 2 moment aggs
    val g = u.agg(count(lit(1)).as("n"),
      sum("pre4").cast(dec).as("sx"), sum("post4").cast(dec).as("sy"),
      sum(col("pre4").cast(dec) * col("pre4").cast(dec)).as("sxx"),
      sum((col("pre4").cast(dec) * col("post4").cast(dec))).as("sxy"),
      sum(col("post4").cast(dec) * col("post4").cast(dec)).as("syy"))
    val t = g.select(col("n"), col("sx"), col("sy"),
      (col("n").cast(dec) * col("sxy") - col("sx") * col("sy")).as("num"),
      (col("n").cast(dec) * col("sxx") - col("sx") * col("sx")).as("denx"),
      (col("n").cast(dec) * col("syy") - col("sy") * col("sy")).as("deny"))
    val gr = u.groupBy("treat")
      .agg(count(lit(1)).as("n_users"),
        sum("pre4").cast(dec).as("sxg"), sum("post4").cast(dec).as("syg"))
    val theta = col("num").cast("double") / col("denx").cast("double")
    gr.crossJoin(broadcast(t))
      .select(col("treat"), col("n_users"),
        (col("syg").cast("double") / col("n_users").cast("double") / 10000.0)
          .as("mean_post"),
        (col("syg").cast("double") / col("n_users").cast("double") / 10000.0 -
          theta * (col("sxg").cast("double") / col("n_users").cast("double") -
            col("sx").cast("double") / col("n").cast("double")) / 10000.0)
          .as("adj_mean"),
        theta.as("theta"),
        ((col("num").cast("double") * col("num").cast("double")) /
          (col("denx").cast("double") * col("deny").cast("double")))
          .as("var_reduction"))
      .orderBy("treat")
  }

  /** Pettitt changepoint test — the RANK-based (distribution-free)
    * sibling of [[EventAnalytics12.q134CusumChangepoint]]'s mean CUSUM:
    * per event type, U_t = 2·S_t − t·(n+1) with S_t the sum of the
    * first t observations' tie-averaged ranks, the changepoint is
    * argmax |U_t|, and significance uses the standard approximation
    * p ≈ 2·exp(−6K²/(n³+n²)) ≤ 0.05 — rearranged to the INTEGER test
    * 600000·K² ≥ 368888·(n³+n²) (the quantized ln 40 ≈ 3.68888, a hair
    * stricter than 3.688879…; both engines compare the identical exact
    * integers, no exp/ln anywhere). Tie-averaged ranks stay integer by
    * doubling: R2(v) = 2·cum_before(v) + c(v) + 1, so U_t = S2_t −
    * t·(n+1) exactly.
    *
    * 100 TB shape: ranks come from the per-type VALUE spine (one
    * map-combined agg + a value-bounded window), the time-ordered
    * prefix S2 rides ONE [[ScalableWindows.globalRunningSum]] pass
    * with per-type exclusive offsets subtracted (the q134 pattern —
    * no corpus-sized per-type window partition), and the K² products
    * run in DECIMAL(38,0) ≡ HUGEINT (headroom to n ≈ 10¹¹ per type
    * on the cubic term). */
  val q152PettittChangepoint: Q = Q(
    "q152_pettitt_changepoint",
    """WITH v AS (
      |  SELECT event_type, ts, event_id,
      |    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS v4
      |  FROM events),
      |vc AS (SELECT event_type, v4, COUNT(*)::BIGINT AS c
      |       FROM v GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, v4,
      |    2 * (CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v4
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) - c) + c + 1 AS r2
      |  FROM vc),
      |tot AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM v GROUP BY 1),
      |pre AS (
      |  SELECT v.event_type, v.ts, v.event_id,
      |    ROW_NUMBER() OVER (PARTITION BY v.event_type
      |                       ORDER BY v.ts, v.event_id) AS t,
      |    CAST(SUM(rk.r2) OVER (PARTITION BY v.event_type
      |      ORDER BY v.ts, v.event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS s2
      |  FROM v JOIN rk ON rk.event_type = v.event_type AND rk.v4 = v.v4),
      |u AS (
      |  SELECT p.event_type, p.ts, p.t, tot.n,
      |    p.s2 - p.t * (tot.n + 1) AS ut
      |  FROM pre p JOIN tot ON tot.event_type = p.event_type
      |  WHERE p.t < tot.n),
      |best AS (
      |  SELECT event_type, ts AS change_ts, t AS pos, n,
      |    ABS(ut)::HUGEINT AS k, ut,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY ABS(ut) DESC, t ASC) AS rnk
      |  FROM u)
      |SELECT event_type, CAST(n AS BIGINT) AS n, change_ts,
      |  CAST(pos AS BIGINT) AS pos, CAST(ut AS BIGINT) AS u_peak,
      |  600000::HUGEINT * k * k >=
      |    368888::HUGEINT * (CAST(n AS HUGEINT) * n * n
      |                       + CAST(n AS HUGEINT) * n) AS significant
      |FROM best WHERE rnk = 1
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val v = events(s, d).select(col("event_type"), col("ts"), col("event_id"),
      floor(col("value") * 10000.0 + 0.5).cast("long").as("v4"))
    val vc = v.groupBy("event_type", "v4").agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy("event_type").orderBy("v4")
      .rowsBetween(Window.unboundedPreceding, 0)
    // r17: the rank spine is value-bounded (|types|×|distinct v4| —
    // the same class as the q101/q111 spines), so materialize it once:
    // the two-pass range partitioner below evaluates its child twice
    // (sampling pass + materialization), and un-checkpointed each
    // evaluation re-ran the corpus agg + the corpus-wide rank join
    // from scratch. With the checkpointed spine AQE sees its true size
    // and picks the broadcast join itself (no hint — the spine can
    // outgrow a broadcast at extreme value cardinalities).
    val rk = vc.select(col("event_type"), col("v4"),
      (lit(2L) * (sum("c").over(wv).cast("long") - col("c")) +
        col("c") + 1L).as("r2"))
      .localCheckpoint(true)
    val vr = v.join(rk, Seq("event_type", "v4"))
    // one global two-pass running sum of r2 over (type, ts, id);
    // within-type prefixes recovered by the per-type exclusive offsets
    // (the q134 pattern — never a corpus-sized per-type window)
    val g = ScalableWindows.globalRunningSum(vr,
      Seq(col("event_type"), col("ts"), col("event_id")),
      col("r2"), "grn", "gs2")
    val offW = Window.orderBy("event_type")
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤5-row relation: bounded by event-type cardinality. r16: aggregate
    // the CHECKPOINTED two-pass output (g) instead of vr — the latter
    // re-ran the corpus scan + rank join per consumer; g has the same
    // rows, so the sums are identical. tot likewise derives from sums
    // (every v row matches exactly one rk row, so |vr per type| =
    // |v per type|) instead of a third corpus aggregation.
    val sums = g.groupBy("event_type").agg(sum("r2").as("sr2"),
      count(lit(1)).as("cnt"))
    val tot = sums.select(col("event_type"), col("cnt").as("n"))
    val offs = sums
      .withColumn("rnoff", coalesce(sum("cnt").over(offW), lit(0L)))
      .withColumn("s2off", coalesce(sum("sr2").over(offW), lit(0L)))
      .select("event_type", "rnoff", "s2off")
    val u = g.join(broadcast(offs), "event_type")
      .join(broadcast(tot), "event_type")
      .withColumn("t", col("grn") - col("rnoff"))
      .withColumn("s2", col("gs2") - col("s2off"))
      .withColumn("ut", col("s2") - col("t") * (col("n") + 1L))
      .filter(col("t") < col("n"))
    u.groupBy("event_type")
      .agg(max(struct(abs(col("ut")).as("a"), (-col("t")).as("negt"),
        col("ut").as("ut"), col("ts").as("ts"), col("n").as("n"))).as("m"))
      .select(col("event_type"),
        col("m.n").cast("long").as("n"),
        col("m.ts").as("change_ts"),
        (-col("m.negt")).cast("long").as("pos"),
        col("m.ut").cast("long").as("u_peak"),
        (lit(600000L).cast(dec) * abs(col("m.ut")).cast(dec) *
          abs(col("m.ut")).cast(dec) >=
          lit(368888L).cast(dec) *
            (col("m.n").cast(dec) * col("m.n") * col("m.n") +
              col("m.n").cast(dec) * col("m.n"))).as("significant"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(q143SurvivalKm, q144DecileLift,
    q145WindowFunnelStrict, q147HoltLinear, q148DiffInDiff,
    q149Attribution, q150Cuped, q152PettittChangepoint)
}
