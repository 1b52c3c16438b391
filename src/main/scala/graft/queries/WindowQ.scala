package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{TimeSeriesOps, WindowOps}
import Q.{dec4, dec6, r4, r6}
import scala.collection.immutable.ListMap

/** Window-feature suite (SURVEY §2.7 W1-W14): lags, rolling stats with
  * `min_periods`, diffs/gradients, percent change, cooling-trend patterns,
  * trailing z-score anomaly detection, drift, Savitzky-Golay smoothing and
  * ML sequence windows — the reference's Numba kernels as pure window
  * expressions over the forward-filled hourly series.
  *
  * Every window is `partitionBy(event_type)` — the long-layout design from
  * SURVEY §7.4-1 that keeps the sort distributed at 100 TB (one series per
  * partition group, never a global order over raw data).
  */
object WindowQ {

  /** Forward-filled dense hourly series per event_type (the regular grid the
    * reference's feature stages operate on, `pre_processing.py:180-243`). */
  private[queries] def series(s: SparkSession, d: String): DataFrame =
    TimeSeriesOps.ffillCols(TimeSeriesQ.aligned(s, d), Seq("event_type"), "ts", Seq("v"))

  private[queries] val sqlSeries =
    s"""${TimeSeriesQ.sqlAligned},
       |series AS (SELECT ts, event_type, last_value(v IGNORE NULLS) OVER (
       |  PARTITION BY event_type ORDER BY ts
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM aligned)""".stripMargin

  private def w = Window.partitionBy("event_type").orderBy("ts")

  /** Shared oracle body for the Holt-Winters family (q215/q225): the
    * triple-smoothing recursion as a LIST-typed recursive CTE — the
    * 24-slot seasonal ring is a list column, shifted with [2:24] +
    * list_append each step; init via list_reduce/list_transform replays
    * Spark's `aggregate` fold order bit-for-bit. Ends at `fit`
    * (ts, event_type, x, f = one-step-ahead fitted, naive = x_{t-24}).
    * Callers prepend WITH RECURSIVE. */
  private lazy val sqlHwFit =
    s"""$sqlSeries,
       |g AS (SELECT ts, event_type, CAST(v AS DOUBLE) AS v,
       |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS r,
       |  count(*) OVER (PARTITION BY event_type) AS n
       |  FROM series WHERE v IS NOT NULL),
       |g2 AS (SELECT * FROM g WHERE n >= 48),
       |init AS (SELECT event_type,
       |    list(v ORDER BY r) FILTER (WHERE r <= 24) AS s1,
       |    list(v ORDER BY r) FILTER (WHERE r > 24 AND r <= 48) AS s2
       |  FROM g2 GROUP BY event_type),
       |init2 AS (SELECT event_type,
       |    list_reduce(s1, (a, b) -> a + b) / 24 AS mu1,
       |    (list_reduce(s2, (a, b) -> a + b) / 24
       |      - list_reduce(s1, (a, b) -> a + b) / 24) / 24 AS b0,
       |    s1 FROM init),
       |init3 AS (SELECT event_type, mu1, b0,
       |    mu1 + b0 * 11.5 AS l0,
       |    list_transform(s1, (x, i) ->
       |      x - (mu1 + b0 * (CAST(i - 1 AS DOUBLE) - 11.5))) AS seas0
       |  FROM init2),
       |rec(event_type, r, l, b, seas, fitted) AS (
       |  SELECT event_type, CAST(24 AS BIGINT), l0, b0, seas0,
       |    CAST(NULL AS DOUBLE)
       |  FROM init3
       |  UNION ALL
       |  SELECT g.event_type, g.r,
       |    0.3 * (g.v - rec.seas[1]) + 0.7 * (rec.l + rec.b),
       |    0.05 * ((0.3 * (g.v - rec.seas[1]) + 0.7 * (rec.l + rec.b))
       |      - rec.l) + 0.95 * rec.b,
       |    list_append(rec.seas[2:24],
       |      0.2 * (g.v - rec.l - rec.b) + 0.8 * rec.seas[1]),
       |    rec.l + rec.b + rec.seas[1]
       |  FROM rec JOIN g2 g ON g.event_type = rec.event_type
       |    AND g.r = rec.r + 1),
       |fit AS (SELECT g.ts, g.event_type, g.v AS x,
       |    CASE WHEN g.r > 24 THEN rec.fitted END AS f,
       |    lag(g.v, 24) OVER (PARTITION BY g.event_type ORDER BY g.ts)
       |      AS naive
       |  FROM g2 g LEFT JOIN rec ON rec.event_type = g.event_type
       |    AND rec.r = g.r)""".stripMargin

  /** Query pattern for q107: a 12-step ramp spike, shared verbatim between
    * the Spark expression and the generated oracle SQL (defined before the
    * queries map — its oracle string evaluates at object init). */
  private val SubseqPattern: Seq[Double] =
    Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0)

  /** Savitzky-Golay width-11 order-3 weights, shared between the Spark
    * expression and the generated oracle SQL so term order matches exactly. */
  private val savgolW: Seq[(Int, Double)] =
    Seq(-36, 9, 44, 69, 84, 89, 84, 69, 44, 9, -36).zipWithIndex
      .map { case (n, i) => (i - 5, n / 429.0) }

  val queries: ListMap[String, Q] = ListMap(

    // Rolling median (robust-statistics completion of the W2-W4 family,
    // pandas `rolling(24, min_periods=12).median()`): exact interpolated
    // median over the trailing day, min_periods-guarded. Both engines
    // interpolate the even-count midpoint identically up to ulp, absorbed
    // by the rounding bias.
    // Hampel despiking filter: centered 25-row window per series, flag
    // |x − med| > 3·1.4826·MAD, report the repair value. Median and MAD are
    // exact element picks from the sorted odd-length frame in BOTH engines
    // (no interpolation), so the flag boundary is IEEE-deterministic; the
    // raw flag comparison happens pre-rounding on both sides.
    "q244_hampel_despike" -> Q(
      (s, d) => WindowOps.hampel(Tables.events(s, d),
          "event_type", "ts", "event_id", "value", half = 12, nSigmas = 3.0)
        .select(col("event_type"), col("event_id"), col("value"),
          dec6(col("window_median")).as("window_median"),
          dec6(col("window_mad")).as("window_mad"))
        .orderBy("event_type", "event_id"),
      Some(s"""WITH w AS (SELECT event_type, event_id, value,
              |  list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
              |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS lst
              |  FROM events),
              |m AS (SELECT event_type, event_id, value,
              |  list_sort(lst)[13] AS med,
              |  list_sort(list_transform(lst, x -> abs(x - list_sort(lst)[13])))[13] AS mad
              |  FROM w WHERE len(lst) = 25)
              |SELECT event_type, event_id, value,
              |  ${r6("med")} AS window_median, ${r6("mad")} AS window_mad
              |FROM m WHERE abs(value - med) > 3.0 * 1.4826 * mad
              |ORDER BY event_type, event_id""".stripMargin)),

    "q97_rolling_median" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d),
          "med_24h" -> WindowOps.rollMedian("v", 24, 12, w).map(dec4))
        .select("ts", "event_type", "med_24h")
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries
              |SELECT ts, event_type,
              |${r4("CASE WHEN count(v) OVER wr >= 12 THEN quantile_cont(v, 0.5) OVER wr END")}
              |  AS med_24h
              |FROM series WINDOW wr AS (PARTITION BY event_type ORDER BY ts
              |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
              |ORDER BY ts, event_type""".stripMargin)),

    // W1: lag features at 1/6/24 h (reference `create_lag`,
    // `pre_processing.py:333-347`; simple lags `simple_pre_processing.py:305`).
    "q30_lag_features" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d),
          Seq(1, 6, 24).map(k => s"lag_${k}h" -> WindowOps.lagF("v", k, w).map(dec4)): _*)
        .select(col("ts"), col("event_type"), dec4(col("v")).as("v"),
          col("lag_1h"), col("lag_6h"), col("lag_24h"))
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries
              |SELECT ts, event_type, ${r4("v")} AS v,
              |${r4("lag(v, 1) OVER w")} AS lag_1h,
              |${r4("lag(v, 6) OVER w")} AS lag_6h,
              |${r4("lag(v, 24) OVER w")} AS lag_24h
              |FROM series WINDOW w AS (PARTITION BY event_type ORDER BY ts)
              |ORDER BY ts, event_type""".stripMargin)),

    // W2/W3/W5: rolling mean + std over 24 rows with min_periods=12
    // (reference `rolling_mean_jit`/`rolling_std_jit`, `pre_processing.py:520-585`;
    // population σ per `pre_processing.py:583`, sample σ per pandas default).
    "q31_rolling_mean_std" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d),
          "ma24" -> WindowOps.rollAvg("v", 24, 12, w).map(dec6),
          "std24_pop" -> WindowOps.rollStdPop("v", 24, 12, w).map(dec6),
          "std24_samp" -> WindowOps.rollStdSamp("v", 24, 12, w).map(dec6))
        .select("ts", "event_type", "ma24", "std24_pop", "std24_samp")
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries
              |SELECT ts, event_type,
              |${r6("CASE WHEN count(v) OVER w24 >= 12 THEN avg(v) OVER w24 END")} AS ma24,
              |${r6("CASE WHEN count(v) OVER w24 >= 12 THEN stddev_pop(v) OVER w24 END")} AS std24_pop,
              |${r6("CASE WHEN count(v) OVER w24 >= 12 THEN stddev_samp(v) OVER w24 END")} AS std24_samp
              |FROM series WINDOW w24 AS (PARTITION BY event_type ORDER BY ts
              |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
              |ORDER BY ts, event_type""".stripMargin)),

    // W4: rolling extrema (reference `rolling_min_jit`/`rolling_max_jit`,
    // `pre_processing.py:587-637`).
    "q32_rolling_minmax" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d),
          "min24" -> WindowOps.rollMin("v", 24, 1, w).map(dec4),
          "max24" -> WindowOps.rollMax("v", 24, 1, w).map(dec4),
          "sum24" -> WindowOps.rollSum("v", 24, 1, w).map(dec4))
        .select("ts", "event_type", "min24", "max24", "sum24")
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries
              |SELECT ts, event_type,
              |${r4("min(v) OVER w24")} AS min24,
              |${r4("max(v) OVER w24")} AS max24,
              |${r4("sum(v) OVER w24")} AS sum24
              |FROM series WINDOW w24 AS (PARTITION BY event_type ORDER BY ts
              |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
              |ORDER BY ts, event_type""".stripMargin)),

    // W6: first difference + per-second gradient (`pre_processing.py:862-878`).
    "q33_diff_gradient" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d),
          "diff_1h" -> WindowOps.diff("v", w).map(dec4),
          "grad_per_s" -> WindowOps.gradientPerSecond("v", "ts", w).map(dec6))
        .select("ts", "event_type", "diff_1h", "grad_per_s")
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries
              |SELECT ts, event_type,
              |${r4("v - lag(v, 1) OVER w")} AS diff_1h,
              |${r6("CASE WHEN date_diff('second', lag(ts, 1) OVER w, ts) > 0 THEN " +
                "(v - lag(v, 1) OVER w) / CAST(date_diff('second', lag(ts, 1) OVER w, ts) AS DOUBLE) END")} AS grad_per_s
              |FROM series WINDOW w AS (PARTITION BY event_type ORDER BY ts)
              |ORDER BY ts, event_type""".stripMargin)),

    // W7: percent change over 3 periods with null-not-inf semantics
    // (`pct_change(periods=3)*100`, `pre_processing.py:870-871`; SURVEY §7.4-6).
    "q34_pct_change" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d),
          "pct_3h" -> WindowOps.pctChange("v", 3, w).map(dec6))
        .select("ts", "event_type", "pct_3h")
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries
              |SELECT ts, event_type,
              |${r6("CASE WHEN lag(v, 3) OVER w IS NOT NULL AND lag(v, 3) OVER w <> 0 " +
                "THEN (v / lag(v, 3) OVER w - 1) * 100 END")} AS pct_3h
              |FROM series WINDOW w AS (PARTITION BY event_type ORDER BY ts)
              |ORDER BY ts, event_type""".stripMargin)),

    // W8: consecutive-decrease (cooling) trend flag
    // (`calculate_cooling_trend`, `pre_processing.py:874-881`).
    "q35_cooling_trend" -> Q(
      (s, d) => WindowOps.withFeatures(series(s, d), "dcr" -> WindowOps.decreaseFlag("v", w))
        .withColumn("cooling",
          (sum("dcr").over(w.rowsBetween(-2, 0)) >= 3).cast("int"))
        .select("ts", "event_type", "dcr", "cooling")
        .orderBy("ts", "event_type"),
      Some(s"""WITH $sqlSeries,
              |x AS (SELECT ts, event_type, v,
              |  CASE WHEN lag(v, 1) OVER (PARTITION BY event_type ORDER BY ts) IS NOT NULL
              |        AND v < lag(v, 1) OVER (PARTITION BY event_type ORDER BY ts)
              |       THEN 1 ELSE 0 END AS dcr
              |  FROM series)
              |SELECT ts, event_type, dcr,
              |CAST(sum(dcr) OVER (PARTITION BY event_type ORDER BY ts
              |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 3 AS INT) AS cooling
              |FROM x ORDER BY ts, event_type""".stripMargin)),

    // W10+W11: trailing z-score anomaly detection over the previous 24 rows
    // excluding current, ±2σ flags, drop magnitude, rolling drop count
    // (`detect_anomalies_jit`, `pre_processing.py:996-1037,1102-1103`) —
    // the reference's slowest stage (22.5 s, 65 % of its pipeline), here a
    // pure window-expression composition inside one partitioned sort.
    "q36_anomaly_zscore" -> Q(
      (s, d) => {
        val (m, sd, flag, dropPct) = WindowOps.anomalyZ("v", w)
        WindowOps.withFeatures(series(s, d),
            "mean24" -> m.map(dec6), "std24" -> sd.map(dec6), "anomaly" -> flag,
            "drop_pct" -> dropPct.map(dec4))
          .withColumn("drops_12h",
            sum((col("anomaly") === -1).cast("int")).over(w.rowsBetween(-11, 0)))
          .select("ts", "event_type", "mean24", "std24", "anomaly", "drop_pct", "drops_12h")
          .orderBy("ts", "event_type")
      },
      Some(s"""WITH $sqlSeries,
              |x AS (SELECT ts, event_type, v,
              |  count(v) OVER wp AS cnt,
              |  avg(v) OVER wp AS m,
              |  greatest(stddev_pop(v) OVER wp, 0.001) AS sd
              |  FROM series
              |  WINDOW wp AS (PARTITION BY event_type ORDER BY ts
              |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
              |y AS (SELECT ts, event_type, v, cnt, m, sd,
              |  CASE WHEN cnt <= 12 OR v IS NULL THEN 0
              |       WHEN v < m - 2 * sd THEN -1
              |       WHEN v > m + 2 * sd THEN 1 ELSE 0 END AS anomaly
              |  FROM x)
              |SELECT ts, event_type,
              |${r6("CASE WHEN cnt > 12 THEN m END")} AS mean24,
              |${r6("CASE WHEN cnt > 12 THEN sd END")} AS std24,
              |anomaly,
              |${r4("CASE WHEN anomaly = -1 AND m > 0 THEN (m - v) / m * 100 ELSE 0.0 END")} AS drop_pct,
              |CAST(sum(CASE WHEN anomaly = -1 THEN 1 ELSE 0 END) OVER (
              |  PARTITION BY event_type ORDER BY ts
              |  ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS drops_12h
              |FROM y ORDER BY ts, event_type""".stripMargin)),

    // W13: baseline-ratio drift `(ma24/ma72 - 1)*100`, flag > 15 %
    // (`pre_processing.py:1185-1199`).
    "q37_drift" -> Q(
      (s, d) => {
        val dr = WindowOps.drift("v", 24, 72, 18, w)
        WindowOps.withFeatures(series(s, d),
            "drift_pct" -> dr.map(dec6),
            "drift_flag" -> dr.map(x => when(x > 15, 1).otherwise(0)))
          .select("ts", "event_type", "drift_pct", "drift_flag")
          .orderBy("ts", "event_type")
      },
      Some(s"""WITH $sqlSeries,
              |x AS (SELECT ts, event_type,
              |  CASE WHEN count(v) OVER w24 >= 1 THEN avg(v) OVER w24 END AS ma_s,
              |  CASE WHEN count(v) OVER w72 >= 18 THEN avg(v) OVER w72 END AS ma_l
              |  FROM series
              |  WINDOW w24 AS (PARTITION BY event_type ORDER BY ts
              |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
              |  w72 AS (PARTITION BY event_type ORDER BY ts
              |    ROWS BETWEEN 71 PRECEDING AND CURRENT ROW)),
              |y AS (SELECT ts, event_type,
              |  CASE WHEN ma_l IS NOT NULL AND ma_l <> 0 THEN (ma_s / ma_l - 1) * 100 END AS dr
              |  FROM x)
              |SELECT ts, event_type, ${r6("dr")} AS drift_pct,
              |CASE WHEN dr > 15 THEN 1 ELSE 0 END AS drift_flag
              |FROM y ORDER BY ts, event_type""".stripMargin)),

    // W12: rolling z-score of the series vs its own 30-row baseline
    // (`pre_processing.py:1240-1248`; sample σ floored at 0.001).
    "q38_zscore_spread" -> Q(
      (s, d) => {
        val (m, sd) = (WindowOps.rollAvg("v", 30, 7, w), WindowOps.rollStdSamp("v", 30, 7, w))
        val z30 = WindowOps.Feature(m.aggs ++ sd.aggs,
          dec6(when(sd.value > 0.001, (col("v") - m.value) / sd.value)))
        WindowOps.withFeatures(series(s, d), "z30" -> z30)
          .select("ts", "event_type", "z30")
          .orderBy("ts", "event_type")
      },
      Some(s"""WITH $sqlSeries,
              |x AS (SELECT ts, event_type, v,
              |  CASE WHEN count(v) OVER w30 >= 7 THEN avg(v) OVER w30 END AS m,
              |  CASE WHEN count(v) OVER w30 >= 7 THEN stddev_samp(v) OVER w30 END AS sd
              |  FROM series
              |  WINDOW w30 AS (PARTITION BY event_type ORDER BY ts
              |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
              |SELECT ts, event_type,
              |${r6("CASE WHEN sd > 0.001 THEN (v - m) / sd END")} AS z30
              |FROM x ORDER BY ts, event_type""".stripMargin)),

    // W14: sliding sequence windows for ML — last 10 event ids per user as an
    // ordered list (`TimeSeriesDataset.__getitem__`, `models.py:66-111`);
    // serialized to a string for engine-agnostic comparison.
    "q39_sequence_windows" -> Q(
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("seq", collect_list("event_id").over(wu.rowsBetween(-9, 0)))
          .withColumn("seq_str", expr("array_join(transform(seq, x -> cast(x as string)), ',')"))
          .select("event_id", "user_id", "seq_str")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |array_to_string(list_transform(
             |  list(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
             |  x -> CAST(x AS VARCHAR)), ',') AS seq_str
             |FROM events ORDER BY event_id""".stripMargin)),

    // T7: Savitzky-Golay smoothing as a fixed-weight FIR
    // (`savgol_filter(temps, 11, 3)`, `data_generator.py:963`); null at the
    // edges where the full centered window is unavailable.
    "q40_savgol" -> Q(
      (s, d) => series(s, d)
        .select(col("ts"), col("event_type"),
          dec6(WindowOps.savgol11o3(col("v"), w)).as("v_smooth"))
        .orderBy("ts", "event_type"),
      Some {
        val terms = savgolW.map { case (off, wt) =>
          val v = if (off < 0) s"lag(v, ${-off}) OVER w"
                  else if (off > 0) s"lead(v, $off) OVER w" else "v"
          s"($wt) * $v"
        }.mkString(" + ")
        s"""WITH $sqlSeries
           |SELECT ts, event_type,
           |${r6(s"CASE WHEN count(v) OVER (PARTITION BY event_type ORDER BY ts " +
             s"ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) = 11 THEN $terms END")} AS v_smooth
           |FROM series WINDOW w AS (PARTITION BY event_type ORDER BY ts)
           |ORDER BY ts, event_type""".stripMargin
      }),

    // Savitzky-Golay with scipy's mode='interp' edge handling — closes
    // q40's documented edge deviation: the first/last 5 points of each
    // series come from the cubic least-squares fit to that end's full
    // 11-point window (WindowOps.savgolEdgeRows, computed from first
    // principles; the same doubles generate this oracle), the interior
    // stays the FIR kernel.
    "q210_savgol_interp" -> Q(
      (s, d) => WindowOps.savgol11o3Interp(series(s, d), "event_type", "ts",
          "v", "v_smooth", scoreOut = dec6)
        .select(col("ts"), col("event_type"), col("v_smooth"))
        .orderBy("ts", "event_type"),
      Some {
        val interior = savgolW.map { case (off, wt) =>
          val v = if (off < 0) s"lag(v, ${-off}) OVER w"
                  else if (off > 0) s"lead(v, $off) OVER w" else "v"
          s"($wt) * $v"
        }.mkString(" + ")
        def edgeCase(arr: String, pos: String) =
          (0 until 5).map { i =>
            val dot = WindowOps.savgolEdgeRows(i).zipWithIndex.map {
              case (cf, j) => s"($cf) * $arr[${j + 1}]"
            }.mkString(" + ")
            s"WHEN $pos = ${i + 1} THEN $dot"
          }.mkString(" ")
        s"""WITH $sqlSeries,
           |rn AS (SELECT ts, event_type, v,
           |  row_number() OVER w AS r,
           |  count(*) OVER (PARTITION BY event_type) AS n
           |  FROM series WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
           |h AS (SELECT event_type, list(v ORDER BY r) AS h11 FROM rn
           |  WHERE r <= 11 GROUP BY event_type),
           |t AS (SELECT event_type, list(v ORDER BY n - r + 1) AS t11 FROM rn
           |  WHERE n - r + 1 <= 11 GROUP BY event_type)
           |SELECT ts, event_type,
           |${r6(s"""CASE WHEN n < 11 THEN NULL
           |  WHEN r <= 5 THEN CASE ${edgeCase("h11", "r")} END
           |  WHEN n - r < 5 THEN CASE ${edgeCase("t11", "n - r + 1")} END
           |  ELSE $interior END""")} AS v_smooth
           |FROM rn JOIN h USING (event_type) JOIN t USING (event_type)
           |WINDOW w AS (PARTITION BY event_type ORDER BY ts)
           |ORDER BY ts, event_type""".stripMargin
      }),

    // EWMA smoothing — pandas ewm(alpha=0.25, adjust=False).mean() parity
    // per series on the ffilled grid (leading nulls dropped so the
    // recursion never sees one). The Spark fold and the oracle's
    // recursive CTE replay the identical two-op IEEE recursion, so values
    // match bit-for-bit before the output rounding.
    "q214_ewma" -> Q(
      (s, d) => graft.operators.SeasonalOps.ewma(
          series(s, d).filter(col("v").isNotNull),
          "event_type", "ts", "v", alpha = 0.25, scoreOut = dec6)
        .select(col("ts"), col("event_type"), col("ewma"))
        .orderBy("ts", "event_type"),
      Some(s"""WITH RECURSIVE $sqlSeries,
              |g AS (SELECT ts, event_type, v,
              |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts)
              |    AS INT) AS r
              |  FROM series WHERE v IS NOT NULL),
              |rec(event_type, r, ts, y) AS (
              |  SELECT event_type, r, ts, v FROM g WHERE r = 1
              |  UNION ALL
              |  SELECT g.event_type, g.r, g.ts, 0.75 * rec.y + 0.25 * g.v
              |  FROM rec JOIN g ON g.event_type = rec.event_type
              |    AND g.r = rec.r + 1)
              |SELECT ts, event_type, ${r6("y")} AS ewma
              |FROM rec ORDER BY ts, event_type""".stripMargin)),

    // Kalman local-level filter (random-walk state, q=0.5, r=4.0) per
    // series on the ffilled grid — the adaptive-gain cousin of q214: the
    // gain starts high and converges to the steady state the q/r ratio
    // implies. The oracle's recursive CTE carries the (level, P) state
    // pair and replays the identical fixed-order IEEE recursion, so
    // values match bit-for-bit before the output rounding.
    "q286_kalman_level" -> Q(
      (s, d) => graft.operators.SeasonalOps.kalmanLocalLevel(
          series(s, d).filter(col("v").isNotNull),
          "event_type", "ts", "v", q = 0.5, r = 4.0, scoreOut = dec6)
        .select(col("ts"), col("event_type"), col("level"))
        .orderBy("ts", "event_type"),
      Some(s"""WITH RECURSIVE $sqlSeries,
              |g AS (SELECT ts, event_type, v,
              |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts)
              |    AS INT) AS r
              |  FROM series WHERE v IS NOT NULL),
              |rec(event_type, r, ts, l, p) AS (
              |  -- CAST: a bare 4.0 is DECIMAL(2,1) and would carry the
              |  -- whole P recursion at one-decimal precision
              |  SELECT event_type, r, ts, v, CAST(4.0 AS DOUBLE)
              |  FROM g WHERE r = 1
              |  UNION ALL
              |  SELECT g.event_type, g.r, g.ts,
              |    rec.l + ((rec.p + 0.5) / ((rec.p + 0.5) + 4.0))
              |      * (g.v - rec.l),
              |    (1.0 - (rec.p + 0.5) / ((rec.p + 0.5) + 4.0))
              |      * (rec.p + 0.5)
              |  FROM rec JOIN g ON g.event_type = rec.event_type
              |    AND g.r = rec.r + 1)
              |SELECT ts, event_type, ${r6("l")} AS level
              |FROM rec ORDER BY ts, event_type""".stripMargin)),

    // Additive Holt-Winters (period 24 = the daily cycle) per series on
    // the ffilled grid: one-step-ahead fitted values + residual-z anomaly
    // flags. The oracle replays the identical three-state recursion as a
    // LIST-typed recursive CTE (the seasonal ring is a 24-slot list
    // column, shifted with [2:24] + list_append each step; init via
    // list_reduce/list_transform so the fold order matches Spark's
    // `aggregate` bit-for-bit) — the q214 recursive-CTE pattern extended
    // to vector state. HoltWintersSpec additionally replays the recursion
    // in plain Scala and matches row-for-row.
    "q215_holt_winters" -> Q(
      (s, d) => graft.operators.SeasonalOps.holtWinters(
          series(s, d).filter(col("v").isNotNull),
          "event_type", "ts", "v", m = 24,
          alpha = 0.3, beta = 0.05, gamma = 0.2, zCut = 3.0, scoreOut = dec6)
        .select(col("ts"), col("event_type"), col("fitted"),
          col("residual"), coalesce(col("is_anom"), lit(0)).as("is_anom"))
        .orderBy("ts", "event_type"),
      Some(s"""WITH RECURSIVE $sqlHwFit,
              |res AS (SELECT ts, event_type, x, f, x - f AS res,
              |    stddev_pop(x - f) OVER (PARTITION BY event_type) AS sd
              |  FROM fit)
              |SELECT ts, event_type, ${r6("f")} AS fitted,
              |  ${r6("res")} AS residual,
              |  coalesce(CAST((sd > 0 AND abs(res) > 3.0 * sd) AS INT), 0)
              |    AS is_anom
              |FROM res ORDER BY ts, event_type""".stripMargin)),

    // Forecast backtest: one-step-ahead MAE of the q215 Holt-Winters fit
    // vs the seasonal-naive baseline (x_{t-24}) per series, with the
    // skill score 1 - MAE_hw/MAE_naive — the model-selection number that
    // decides whether triple smoothing earns its state (Hyndman's rule:
    // never report a forecast without its naive skill). Evaluated on the
    // rows where both forecasts exist; the oracle rides the shared
    // recursive-CTE Holt-Winters body (sqlHwFit).
    "q225_forecast_backtest" -> Q(
      (s, d) => {
        val g = series(s, d).filter(col("v").isNotNull)
        val hw = graft.operators.SeasonalOps.holtWinters(g, "event_type",
            "ts", "v", m = 24, alpha = 0.3, beta = 0.05, gamma = 0.2,
            zCut = 3.0, scoreOut = identity)
          .select(col("event_type"), col("ts"), col("x"), col("fitted"))
        val wS = Window.partitionBy("event_type").orderBy("ts")
        val naive = g.withColumn("naive", lag("v", 24).over(wS))
          .select(col("event_type"), col("ts"), col("naive"))
        hw.join(naive, Seq("event_type", "ts"))
          .filter(col("fitted").isNotNull && col("naive").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            avg(abs(col("x") - col("fitted"))).as("mae_hw"),
            avg(abs(col("x") - col("naive"))).as("mae_naive"))
          .select(col("event_type"), col("n"),
            dec6(col("mae_hw")).as("mae_hw"),
            dec6(col("mae_naive")).as("mae_naive"),
            dec6(lit(1.0) - col("mae_hw") / col("mae_naive")).as("skill"))
          .orderBy("event_type")
      },
      Some(s"""WITH RECURSIVE $sqlHwFit,
              |m AS (SELECT event_type, count(*) AS n,
              |    avg(abs(x - f)) AS mae_hw, avg(abs(x - naive)) AS mae_naive
              |  FROM fit WHERE f IS NOT NULL AND naive IS NOT NULL
              |  GROUP BY event_type)
              |SELECT event_type, n, ${r6("mae_hw")} AS mae_hw,
              |  ${r6("mae_naive")} AS mae_naive,
              |  ${r6("1.0 - mae_hw / mae_naive")} AS skill
              |FROM m ORDER BY event_type""".stripMargin)),

    // Split-conformal interval for the seasonal-naive forecaster: first
    // half of the residuals calibrates q_hat = k-th smallest |res| with
    // k = min(ceil(0.9*(n+1)), n), second half measures coverage of
    // x_{t-24} ± q_hat — the distribution-free uncertainty quantifier
    // every forecast in q215/q225 should ship with. |res| is dec6-rounded
    // BEFORE ranking (rank-over-rounded convention) so q_hat is
    // engine-identical.
    "q234_conformal_coverage" -> Q(
      (s, d) => graft.operators.SeasonalOps.conformalNaive(
          series(s, d).filter(col("v").isNotNull),
          "event_type", "ts", "v", period = 24, alpha = 0.9, scoreOut = dec6)
        .orderBy("event_type"),
      Some(s"""WITH $sqlSeries,
              |g AS (SELECT ts, event_type, v FROM series WHERE v IS NOT NULL),
              |b0 AS (SELECT event_type, ts,
              |  v - lag(v, 24) OVER (PARTITION BY event_type ORDER BY ts) AS res
              |  FROM g),
              |b1 AS (SELECT event_type, ts, ${r6("abs(res)")} AS a,
              |  row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
              |  count(*) OVER (PARTITION BY event_type) AS n
              |  FROM b0 WHERE res IS NOT NULL),
              |b AS (SELECT *, rn <= floor(n / 2.0) AS cal FROM b1),
              |calr AS (SELECT event_type, ts, a,
              |  row_number() OVER (PARTITION BY event_type ORDER BY a, ts) AS rk,
              |  count(*) OVER (PARTITION BY event_type) AS ncal
              |  FROM b WHERE cal),
              |qh AS (SELECT event_type, ncal AS n_cal, a AS q_hat FROM calr
              |  WHERE rk = least(CAST(ceil(0.9 * (CAST(ncal AS DOUBLE) + 1.0))
              |    AS BIGINT), ncal)),
              |t AS (SELECT b.event_type, b.a, qh.n_cal, qh.q_hat
              |  FROM b JOIN qh USING (event_type) WHERE NOT cal)
              |SELECT event_type, max(n_cal) AS n_cal, count(*) AS n_test,
              |  max(q_hat) AS q_hat,
              |  ${r6("avg(CASE WHEN a <= q_hat THEN 1.0 ELSE 0.0 END)")}
              |    AS coverage
              |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A4: horizontal (row-wise) aggregates over the wide aligned matrix —
    // `all_zones_avg`, `greatest`, count-above-threshold
    // (`pre_processing.py:1140-1144,1302-1319`).
    "q41_horizontal_agg" -> Q(
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val ev = Tables.events(s, d)
        val wide = ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
          .pivot("event_type", types).agg(avg("value"))
        val cols = types.map(col)
        wide
          .withColumn("all_avg", dec4(cols.reduce(_ + _) / cols.size))
          .withColumn("all_max", dec4(greatest(cols: _*)))
          .withColumn("n_above_50",
            cols.map(c => when(c > 50, 1).otherwise(0)).reduce(_ + _))
          .select("ts", "all_avg", "all_max", "n_above_50")
          .orderBy("ts")
      },
      Some(s"""WITH wide AS (SELECT date_trunc('hour', ts) AS ts,
              |  avg(CASE WHEN event_type = 'click' THEN value END) AS click,
              |  avg(CASE WHEN event_type = 'error' THEN value END) AS error,
              |  avg(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
              |  avg(CASE WHEN event_type = 'signup' THEN value END) AS signup,
              |  avg(CASE WHEN event_type = 'view' THEN value END) AS view
              |  FROM events GROUP BY 1)
              |SELECT ts,
              |${r4("(click + error + purchase + signup + view) / 5")} AS all_avg,
              |${r4("greatest(click, error, purchase, signup, view)")} AS all_max,
              |(CASE WHEN click > 50 THEN 1 ELSE 0 END + CASE WHEN error > 50 THEN 1 ELSE 0 END
              | + CASE WHEN purchase > 50 THEN 1 ELSE 0 END + CASE WHEN signup > 50 THEN 1 ELSE 0 END
              | + CASE WHEN view > 50 THEN 1 ELSE 0 END) AS n_above_50
              |FROM wide ORDER BY ts""".stripMargin)),

    // §7.2 flagship: accretion-early-warning shape end to end — downsample →
    // align+ffill → trailing z anomaly (W10) → per-hour horizontal rollup
    // (A4) → look-ahead truth labeling (J4 analogue). ~6 operators, one
    // raw-data shuffle, everything else on the hourly grid.
    "q70_early_warning" -> Q(
      (s, d) => {
        val (_, _, flag, _) = WindowOps.anomalyZ("v", w)
        val flagged = WindowOps.withFeatures(series(s, d), "anomaly" -> flag)
        val perHour = flagged.groupBy("ts").agg(
          sum((col("anomaly") === -1).cast("int")).as("series_in_drop"),
          max((col("anomaly") === -1).cast("int")).as("any_warning"))
        val errHourly = Tables.events(s, d).filter(col("event_type") === "error")
          .groupBy(date_trunc("hour", col("ts")).as("ts")).agg(count(lit(1)).as("n_err"))
        val wts = Window.orderBy("ts") // hourly grid: ≤ #hours rows
        perHour.join(errHourly, Seq("ts"), "left")
          .withColumn("incident", (coalesce(col("n_err"), lit(0L)) >= 5).cast("int"))
          .withColumn("incident_next_24h", max("incident").over(wts.rowsBetween(0, 23)))
          .select("ts", "series_in_drop", "any_warning", "incident_next_24h")
          .orderBy("ts")
      },
      Some(s"""WITH $sqlSeries,
              |x AS (SELECT ts, event_type, v,
              |  count(v) OVER wp AS cnt, avg(v) OVER wp AS m,
              |  greatest(stddev_pop(v) OVER wp, 0.001) AS sd
              |  FROM series
              |  WINDOW wp AS (PARTITION BY event_type ORDER BY ts
              |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
              |y AS (SELECT ts, event_type,
              |  CASE WHEN cnt <= 12 OR v IS NULL THEN 0
              |       WHEN v < m - 2 * sd THEN -1
              |       WHEN v > m + 2 * sd THEN 1 ELSE 0 END AS anomaly
              |  FROM x),
              |ph AS (SELECT ts,
              |  CAST(sum(CASE WHEN anomaly = -1 THEN 1 ELSE 0 END) AS BIGINT) AS series_in_drop,
              |  max(CASE WHEN anomaly = -1 THEN 1 ELSE 0 END) AS any_warning
              |  FROM y GROUP BY ts),
              |eh AS (SELECT date_trunc('hour', ts) AS ts, count(*) AS n_err
              |  FROM events WHERE event_type = 'error' GROUP BY 1),
              |z AS (SELECT ph.ts, ph.series_in_drop, ph.any_warning,
              |  CASE WHEN coalesce(eh.n_err, 0) >= 5 THEN 1 ELSE 0 END AS incident
              |  FROM ph LEFT JOIN eh ON ph.ts = eh.ts)
              |SELECT ts, series_in_drop, any_warning,
              |max(incident) OVER (ORDER BY ts ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
              |  AS incident_next_24h
              |FROM z ORDER BY ts""".stripMargin)),

    // Subsequence similarity search (the retrieved data-series-search
    // literature's core query: top-k z-normalized matches of a pattern):
    // z-normalized Euclidean distance² = 2w(1 − corr(q, window)), so the
    // whole search is w leads + rolling sums per row — NO window arrays,
    // no per-window normalization pass. Linear scan partitioned by series;
    // the same algebra a MASS/Matrix-Profile batch uses, distributed. The
    // flat-window guard (σ² ≤ 1e-12) drops constant subsequences, where
    // correlation is undefined.
    "q107_subseq_search" -> Q(
      (s, d) => {
        val pat = SubseqPattern
        val wlen = pat.length
        val muQ = pat.sum / wlen
        val sigQ = math.sqrt(pat.map(x => x * x).sum / wlen - muQ * muQ)
        val xs = (0 until wlen).map(i => lead(col("v"), i).over(w))
        val sumX = xs.reduce(_ + _)
        val sumX2 = xs.map(x => x * x).reduce(_ + _)
        val dot = xs.zip(pat).map { case (x, qi) => x * lit(qi) }.reduce(_ + _)
        val withSums = series(s, d).select(col("ts"), col("event_type"), col("v"),
          xs.last.as("xlast"), sumX.as("sx"), sumX2.as("sx2"), dot.as("dq"))
        val mux = col("sx") / wlen
        val varx = col("sx2") / wlen - mux * mux
        val corr = (col("dq") / wlen - lit(muQ) * mux) / (lit(sigQ) * sqrt(varx))
        withSums
          .filter(col("v").isNotNull && col("xlast").isNotNull)
          .withColumn("varx", varx)
          .filter(col("varx") > 1e-12)
          .select(col("ts"), col("event_type"),
            dec6(lit(2.0 * wlen) * (lit(1.0) - corr)).as("dist2"))
          .orderBy(col("dist2"), col("event_type"), col("ts"))
          .limit(10)
      },
      Some {
        val pat = SubseqPattern
        val wlen = pat.length
        val muQ = pat.sum / wlen
        val sigQ = math.sqrt(pat.map(x => x * x).sum / wlen - muQ * muQ)
        val leads = (1 until wlen).map(i =>
          s"lead(v, $i) OVER (PARTITION BY event_type ORDER BY ts) AS x$i").mkString(",\n|  ")
        val xs = "v" +: (1 until wlen).map(i => s"x$i")
        val sumX = xs.mkString(" + ")
        val sumX2 = xs.map(x => s"$x * $x").mkString(" + ")
        val dot = xs.zip(pat).map { case (x, qi) => s"$x * $qi" }.mkString(" + ")
        s"""WITH $sqlSeries,
           |wnd AS (SELECT ts, event_type, v,
           |  $leads
           |  FROM series),
           |sums AS (SELECT ts, event_type, v, x${wlen - 1} AS xlast,
           |  ($sumX) AS sx, ($sumX2) AS sx2, ($dot) AS dq
           |  FROM wnd),
           |scored AS (SELECT ts, event_type,
           |  (sx2 / $wlen - (sx / $wlen) * (sx / $wlen)) AS varx,
           |  ((dq / $wlen - $muQ * (sx / $wlen)) / ($sigQ * sqrt(sx2 / $wlen - (sx / $wlen) * (sx / $wlen)))) AS corr
           |  FROM sums WHERE v IS NOT NULL AND xlast IS NOT NULL)
           |SELECT ts, event_type, ${r6(s"${2.0 * wlen} * (1.0 - corr)")} AS dist2
           |FROM scored WHERE varx > 1e-12
           |ORDER BY dist2, event_type, ts LIMIT 10""".stripMargin
      }),

    // Theta-method one-step backtest (alpha = 0.25 — binary-exact
    // coefficients, the q214 convention): SES level + OLS drift/2 scored
    // against naive x_{t-1} per the q291 discipline. The oracle replays
    // the SES recursion (q214's recursive CTE), fits the slope from the
    // same rounded moments, and walks the same one-step lag join.
    "q307_theta_backtest" -> Q(
      (s, d) => graft.operators.SeasonalOps.thetaBacktest(
          series(s, d).filter(col("v").isNotNull),
          "event_type", "ts", "v", alpha = 0.25, scoreOut = dec6)
        .orderBy("series"),
      Some(s"""WITH RECURSIVE $sqlSeries,
              |-- MATERIALIZED: the recursion re-evaluates g per step when
              |-- inlined — 744 replays of the grid-window scan (~19 s → <1 s)
              |g AS MATERIALIZED (SELECT ts, event_type, CAST(v AS DOUBLE) AS v,
              |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts)
              |    AS INT) AS r,
              |  CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS idx
              |  FROM series WHERE v IS NOT NULL),
              |rec(event_type, r, y) AS (
              |  SELECT event_type, r, v FROM g WHERE r = 1
              |  UNION ALL
              |  SELECT g.event_type, g.r, 0.75 * rec.y + 0.25 * g.v
              |  FROM rec JOIN g ON g.event_type = rec.event_type
              |    AND g.r = rec.r + 1),
              |sl AS (SELECT event_type,
              |  ${r6("""(avg(idx * v) - avg(idx) * avg(v))
              |    / (avg(CAST(idx AS DOUBLE) * idx) - avg(idx) * avg(idx))""")} AS slope
              |  FROM g GROUP BY 1),
              |l AS (SELECT event_type, r, ${r6("y")} AS lev FROM rec),
              |x AS (SELECT g.event_type AS event_type, g.v AS x, l.lev AS lp,
              |    gp.v AS xp
              |  FROM g
              |  JOIN l ON l.event_type = g.event_type AND l.r = g.r - 1
              |  JOIN g gp ON gp.event_type = g.event_type AND gp.r = g.r - 1),
              |ag AS (SELECT x.event_type AS series, count(*) AS n_steps,
              |    any_value(slope) AS slope,
              |    avg(abs(x - (lp + slope / 2.0))) AS mt,
              |    avg(abs(x - xp)) AS mn
              |  FROM x JOIN sl USING (event_type) GROUP BY 1)
              |SELECT series, n_steps, slope, ${r6("mt")} AS mae_theta,
              |  ${r6("mn")} AS mae_naive, ${r6("1.0 - mt / mn")} AS skill
              |FROM ag ORDER BY series""".stripMargin)),

    // Croston intermittent-demand forecast (alpha = 0.125 — binary-exact):
    // daily counts of rare high-value events (value >= 200) are the demand
    // sizes; separate SES folds over sizes and day-gaps give the
    // rate-per-day forecast. The oracle replays both folds with
    // list_reduce — DuckDB's fold order IS Spark's `aggregate` order.
    "q308_croston" -> Q(
      (s, d) => graft.operators.SeasonalOps.crostonForecast(
          Tables.events(s, d), "event_type", "ts",
          demandFilter = col("value").cast("double") >= 200.0,
          alpha = 0.125, scoreOut = dec6)
        .orderBy("series"),
      Some(s"""WITH daily AS (SELECT event_type AS series,
              |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
              |    CAST(count(*) AS DOUBLE) AS z
              |  FROM events WHERE CAST(value AS DOUBLE) >= 200.0
              |  GROUP BY 1, 2),
              |packed AS (SELECT series,
              |    list(z ORDER BY day) AS zs,
              |    list(CAST(day AS DOUBLE) ORDER BY day) AS ds,
              |    CAST(count(*) AS INT) AS n
              |  FROM daily GROUP BY 1 HAVING count(*) >= 2),
              |iv AS (SELECT series, n, zs,
              |    list_transform(generate_series(2, n), i -> ds[i] - ds[i-1]) AS ivs
              |  FROM packed),
              |f AS (SELECT series, n AS n_demands,
              |    list_reduce(zs, (acc, x) -> 0.875 * acc + 0.125 * x) AS zh,
              |    list_reduce(ivs, (acc, x) -> 0.875 * acc + 0.125 * x) AS ph
              |  FROM iv)
              |SELECT series, n_demands, ${r6("zh")} AS z_hat,
              |  ${r6("ph")} AS p_hat, ${r6("zh / ph")} AS rate_per_day
              |FROM f ORDER BY series""".stripMargin)),

    // Banded DTW (Sakoe-Chiba band = 24 h) between every pair of
    // z-normalized hourly profiles: shape similarity allowing a day of
    // time slippage — the alignment-tolerant upgrade of q192's pointwise
    // correlation. Each series is one collected-grid row; each pair's DP
    // is O(len*band) in one task. The oracle replays the DP as an
    // ANTI-DIAGONAL recursive CTE (cells on diagonal i+j depend only on
    // diagonals i+j−1 and i+j−2, so each recursion step materializes one
    // whole diagonal as a list — the within-row left-to-right dependency
    // that blocks a per-row unroll vanishes): per cell the identical
    // |za_i − zb_j| + least(up, left, diag) arithmetic over the
    // identically rounded z-profiles (mu/sd dec6 on both sides, the raw
    // division after), so values match bit-for-bit before the output
    // rounding. Out-of-band cells carry 1e300 in SQL vs Infinity in
    // Scala: both lose every min against any reachable path, and the
    // final cell is always reachable (w ≥ |n_a − n_b|). GraphExtraSpec
    // still pins the DP against hand-walked alignments.
    "q324_dtw_profiles" -> Q(
      (s, d) => graft.operators.DtwOps.dtwPairs(
          series(s, d).filter(col("v").isNotNull),
          "event_type", "ts", "v", band = 24, scoreOut = dec6)
        .orderBy("series_a", "series_b"),
      Some(s"""WITH RECURSIVE $sqlSeries,
              |g AS (SELECT event_type, ts, CAST(v AS DOUBLE) AS x
              |  FROM series WHERE v IS NOT NULL),
              |st AS (SELECT event_type, list(x ORDER BY ts) AS xs,
              |  CAST(count(*) AS BIGINT) AS n,
              |  ${r6("avg(x)")} AS mu,
              |  ${r6("sqrt(avg(x * x) - avg(x) * avg(x))")} AS sd
              |  FROM g GROUP BY 1),
              |z AS (SELECT event_type, n,
              |  list_transform(xs, e -> (e - mu) / sd) AS zs
              |  FROM st WHERE sd > 0),
              |pr AS (SELECT a.event_type AS sa, b.event_type AS sb,
              |  a.n AS na, b.n AS nb, a.zs AS za, b.zs AS zb,
              |  greatest(24, abs(a.n - b.n)) AS w
              |  FROM z a JOIN z b ON a.event_type < b.event_type),
              |rec(sa, sb, d, prv, cur) AS (
              |  SELECT sa, sb, 0,
              |    list_transform(generate_series(0, CAST(na AS INT)),
              |      i -> 1e300),
              |    list_transform(generate_series(0, CAST(na AS INT)),
              |      i -> CASE WHEN i = 0 THEN 0.0 ELSE 1e300 END)
              |  FROM pr
              |  UNION ALL
              |  SELECT r.sa, r.sb, r.d + 1, r.cur,
              |    list_transform(generate_series(0, CAST(p.na AS INT)), i ->
              |      CASE WHEN i = 0 THEN 1e300
              |        WHEN r.d + 1 - i < 1 OR r.d + 1 - i > p.nb THEN 1e300
              |        WHEN abs(i - (r.d + 1 - i)) > p.w THEN 1e300
              |        ELSE abs(p.za[i] - p.zb[r.d + 1 - i])
              |          + least(r.cur[i], r.cur[i + 1], r.prv[i])
              |      END)
              |  FROM rec r JOIN pr p ON p.sa = r.sa AND p.sb = r.sb
              |  WHERE r.d < p.na + p.nb)
              |SELECT r.sa AS series_a, r.sb AS series_b,
              |  p.na AS n_a, p.nb AS n_b,
              |  ${r6("r.cur[CAST(p.na AS INT) + 1]")} AS dtw,
              |  ${r6("r.cur[CAST(p.na AS INT) + 1] / CAST(p.na + p.nb AS DOUBLE)")}
              |    AS dtw_per_step
              |FROM rec r JOIN pr p ON p.sa = r.sa AND p.sb = r.sb
              |WHERE r.d = p.na + p.nb
              |ORDER BY series_a, series_b""".stripMargin)),
  )
}
