package graft.operators

import org.apache.spark.sql.functions._

import graft.Q
import graft.Tables._

/** Thirteenth event-analytics batch: the quantile-sketch audit that
  * completes the estimator-audit family (cardinality →
  * `q136_hll_portable`, similarity → `dedup_minhash_estimate`,
  * quantiles → here), and a seasonal-naive backtest. Exact integer
  * arithmetic end-to-end; the only doubles are final single
  * divisions/subtractions of identical exact inputs. */
object EventAnalytics13 {

  private val Bins = 4096
  private val BinW = 4096L // bin b covers v4 ∈ [b·4096, (b+1)·4096)
  private val Quantiles = Seq(50, 95, 99) // percents

  /** Fixed-histogram quantile estimates vs exact order statistics, per
    * event type: values quantize ×10⁴ (this domain's long tail reaches
    * value ≈ 560 → v4 ≈ 5.6·10⁶; 4096 × 4096-wide bins cover v4 <
    * 1.68·10⁷ and the top bin clamps), the
    * sketch is the 4096-bin count histogram, and each percentile
    * p ∈ {50, 95, 99} is estimated by in-bin linear interpolation
    *   est4 = b·4096 + ((k − cum_before)·4096) div (bin_count + 1),
    * all exact BIGINT floor arithmetic, against the exact k-th
    * smallest v4 (k = ⌈p·n/100⌉) from the value-indexed cumulative —
    * the audit a pipeline owner runs before trusting a fixed-bin
    * sketch at a given tail percentile.
    *
    * 100 TB shape: ONE map-combined hash agg to (type, v4) value
    * counts — everything after is value-cardinality-bounded (≤ 2.6·10⁵
    * distinct v4 per type regardless of corpus size): the exact order
    * statistic comes from a cumulative window over the per-type VALUE
    * spine, never a corpus-sized sort, and the histogram is a second
    * 4096-group agg of the same value counts. */
  val q137QuantileSketch: Q = Q(
    "q137_quantile_sketch",
    s"""WITH v AS (
       |  SELECT event_type,
       |    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS v4
       |  FROM events),
       |vc AS (SELECT event_type, v4, COUNT(*)::BIGINT AS c
       |       FROM v GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, v4, c,
       |    SUM(c) OVER (PARTITION BY event_type ORDER BY v4
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS cum,
       |    SUM(c) OVER (PARTITION BY event_type) AS n
       |  FROM vc),
       |ks AS (
       |  SELECT event_type, n, q,
       |    CAST(((q * n + 99) // 100) AS BIGINT) AS k
       |  FROM (SELECT DISTINCT event_type, n FROM cum)
       |  CROSS JOIN (SELECT UNNEST(ARRAY[${Quantiles.mkString(", ")}]) AS q) r),
       |exact AS (
       |  SELECT k.event_type, k.q, k.n, k.k, MIN(c.v4) AS exact4
       |  FROM ks k JOIN cum c
       |    ON c.event_type = k.event_type AND c.cum >= k.k
       |  GROUP BY 1, 2, 3, 4),
       |hist AS (
       |  SELECT event_type, LEAST(v4 // $BinW, ${Bins - 1}) AS b,
       |    SUM(c) AS hc
       |  FROM vc GROUP BY 1, 2),
       |hcum AS (
       |  SELECT event_type, b, hc,
       |    SUM(hc) OVER (PARTITION BY event_type ORDER BY b
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS hcm
       |  FROM hist),
       |est AS (
       |  SELECT e.event_type, e.q, e.n, e.k, e.exact4,
       |    MIN(h.b) AS eb,
       |    MIN_BY(h.hcm - h.hc, h.b) AS cum_before,
       |    MIN_BY(h.hc, h.b) AS bin_count
       |  FROM exact e JOIN hcum h
       |    ON h.event_type = e.event_type AND h.hcm >= e.k
       |  GROUP BY 1, 2, 3, 4, 5)
       |SELECT event_type, CAST(q AS BIGINT) AS pct, CAST(n AS BIGINT) AS n,
       |  CAST(exact4 AS DOUBLE) / 10000.0::DOUBLE AS exact_v,
       |  CAST(eb * $BinW + ((k - cum_before) * $BinW) // (bin_count + 1)
       |    AS DOUBLE) / 10000.0::DOUBLE AS est_v,
       |  (CAST(eb * $BinW + ((k - cum_before) * $BinW) // (bin_count + 1)
       |    AS DOUBLE) / 10000.0::DOUBLE)
       |    - (CAST(exact4 AS DOUBLE) / 10000.0::DOUBLE) AS err
       |FROM est
       |ORDER BY event_type, pct""".stripMargin) { (s, d) =>
    val v = events(s, d).select(col("event_type"),
      floor(col("value") * 10000.0 + 0.5).cast("long").as("v4"))
    quantileFromValueCounts(s,
      v.groupBy("event_type", "v4").agg(count(lit(1)).as("c")))
  }

  /** [[q137QuantileSketch]]'s tail over an already-built
    * (event_type, v4, c) value-count relation — factored out so the
    * ST6 incremental twin ([[graft.streaming.QuantileState]]) can run
    * the IDENTICAL estimator over its cumulative value counts:
    * golden ≡ one-shot holds structurally, not by re-implementation. */
  private[graft] def quantileFromValueCounts(
      s: org.apache.spark.sql.SparkSession,
      vc0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val vc = vc0.localCheckpoint(true) // value-bounded; feeds three consumers
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("v4")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val cum = vc.withColumn("cum", sum("c").over(wv))
      .withColumn("n", sum("c").over(wn))
    val qdf = {
      import s.implicits._
      Quantiles.map(_.toLong).toDF("q")
    }
    val ks = cum.select("event_type", "n").distinct()
      .crossJoin(broadcast(qdf))
      .withColumn("k", expr("(q * n + 99) div 100"))
    val exact = ks.as("k").join(cum.as("c"),
        col("c.event_type") === col("k.event_type") &&
          col("c.cum") >= col("k.k"))
      .groupBy(col("k.event_type").as("event_type"), col("q"),
        col("k.n").as("n"), col("k.k").as("k"))
      .agg(min(col("c.v4")).as("exact4"))
    val hist = vc
      .groupBy(col("event_type"),
        least(expr(s"v4 div $BinW"), lit((Bins - 1).toLong)).as("b"))
      .agg(sum("c").as("hc"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val hcum = hist.withColumn("hcm", sum("hc").over(wb))
    val est = exact.as("e").join(hcum.as("h"),
        col("h.event_type") === col("e.event_type") &&
          col("h.hcm") >= col("e.k"))
      .groupBy(col("e.event_type").as("event_type"), col("q"),
        col("e.n").as("n"), col("e.k").as("k"), col("exact4"))
      .agg(min(col("h.b")).as("eb"),
        min_by(col("h.hcm") - col("h.hc"), col("h.b")).as("cum_before"),
        min_by(col("h.hc"), col("h.b")).as("bin_count"))
    est
      .withColumn("est4", col("eb") * BinW +
        expr(s"((k - cum_before) * $BinW) div (bin_count + 1)"))
      .select(col("event_type"), col("q").as("pct"), col("n"),
        (col("exact4").cast("double") / 10000.0).as("exact_v"),
        (col("est4").cast("double") / 10000.0).as("est_v"),
        ((col("est4").cast("double") / 10000.0) -
          (col("exact4").cast("double") / 10000.0)).as("err"))
      .orderBy("event_type", "pct")
  }

  /** Seasonal-naive backtest per event type: train = even calendar
    * days, test = odd days; the model is the per-(type, hour-of-day)
    * exact integer mean of train values (×10⁴, truncating division —
    * non-negative domain), scored by mean absolute error over the
    * test slice in exact fixed-point. The shape every forecasting
    * pipeline runs before trusting a seasonal baseline.
    *
    * 100 TB shape: two hash aggs (train model = ≤ types×24 groups,
    * test join against the broadcast model, one MAE agg). */
  val q138SeasonalNaiveError: Q = Q(
    "q138_seasonal_naive_error",
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS v4,
      |    EXTRACT(HOUR FROM ts)::BIGINT AS hod,
      |    EXTRACT(DAY FROM ts)::BIGINT % 2 AS odd
      |  FROM events),
      |model AS (
      |  SELECT event_type, hod,
      |    SUM(v4) // COUNT(*) AS m4
      |  FROM v WHERE odd = 0 GROUP BY 1, 2),
      |test AS (
      |  SELECT t.event_type, ABS(t.v4 - m.m4) AS ae
      |  FROM v t JOIN model m
      |    ON m.event_type = t.event_type AND m.hod = t.hod
      |  WHERE t.odd = 1)
      |SELECT event_type, COUNT(*)::BIGINT AS n_test,
      |  (CAST(SUM(ae) AS DOUBLE) / COUNT(*)) / 10000.0::DOUBLE AS mae
      |FROM test
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val v = events(s, d).select(col("event_type"),
      floor(col("value") * 10000.0 + 0.5).cast("long").as("v4"),
      hour(col("ts")).cast("long").as("hod"),
      (dayofmonth(col("ts")).cast("long") % 2).as("odd"))
    val model = v.filter(col("odd") === 0)
      .groupBy("event_type", "hod")
      .agg(expr("sum(v4) div count(*)").as("m4"))
    v.filter(col("odd") === 1).as("t")
      .join(broadcast(model).as("m"),
        col("m.event_type") === col("t.event_type") &&
          col("m.hod") === col("t.hod"))
      .select(col("t.event_type").as("event_type"),
        abs(col("v4") - col("m4")).as("ae"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        ((sum("ae").cast("double") / count(lit(1))) / 10000.0).as("mae"))
      .orderBy("event_type")
  }

  /** Time-to-convert: per signup-week cohort, the exact median (and
    * p90) of each user's first-signup → first-purchase latency in
    * whole minutes. Latencies are exact BIGINT µs differences floored
    * to minutes; order statistics come from the same value-indexed
    * cumulative discipline as [[q137QuantileSketch]] (the per-cohort
    * window runs over DISTINCT latency values, not users). Users who
    * never purchase are excluded — stated in both engines by the
    * inner join.
    *
    * 100 TB shape: two min-aggs keyed by user (map-combined), a
    * user-keyed join, then everything is (cohort, latency)-bounded. */
  val q139TimeToConvert: Q = Q(
    "q139_time_to_convert",
    """WITH su AS (
      |  SELECT user_id, MIN(ts) AS s_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (
      |  SELECT user_id, MIN(ts) AS p_ts FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |lat AS (
      |  SELECT CAST(DATE_TRUNC('week', CAST(su.s_ts AS DATE)) AS DATE)
      |           AS cohort_week,
      |    EPOCH_US(pu.p_ts - su.s_ts) // 60000000 AS lat_min
      |  FROM su JOIN pu ON pu.user_id = su.user_id
      |  WHERE pu.p_ts >= su.s_ts),
      |vc AS (SELECT cohort_week, lat_min, COUNT(*)::BIGINT AS c
      |       FROM lat GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_week, lat_min, c,
      |    SUM(c) OVER (PARTITION BY cohort_week ORDER BY lat_min
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum,
      |    SUM(c) OVER (PARTITION BY cohort_week) AS n
      |  FROM vc)
      |SELECT cohort_week, CAST(MAX(n) AS BIGINT) AS n_users,
      |  MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN lat_min END)
      |    AS p50_min,
      |  MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN lat_min END)
      |    AS p90_min
      |FROM cum
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    val lat = su.join(pu, "user_id")
      .filter(col("p_ts") >= col("s_ts"))
      .select(
        date_trunc("week", col("s_ts").cast("date")).cast("date")
          .as("cohort_week"),
        expr("(unix_micros(p_ts) - unix_micros(s_ts)) div 60000000")
          .as("lat_min"))
    val vc = lat.groupBy("cohort_week", "lat_min")
      .agg(count(lit(1)).as("c"))
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_week").orderBy("lat_min")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy("cohort_week")
    vc.withColumn("cum", sum("c").over(wv))
      .withColumn("n", sum("c").over(wn))
      .groupBy("cohort_week")
      .agg(max("n").cast("long").as("n_users"),
        min(when(col("cum") >= expr("(50 * n + 99) div 100"),
          col("lat_min"))).as("p50_min"),
        min(when(col("cum") >= expr("(90 * n + 99) div 100"),
          col("lat_min"))).as("p90_min"))
      .orderBy("cohort_week")
  }

  val all: Seq[Q] = Seq(q137QuantileSketch, q138SeasonalNaiveError,
    q139TimeToConvert)
}
