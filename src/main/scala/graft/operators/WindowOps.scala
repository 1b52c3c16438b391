package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window-feature combinators — the heart of the reference workload
  * (SURVEY §2.7). Every reference Numba kernel (`pre_processing.py:333-637,
  * 996-1037`) reduces to compositions of built-in window aggregates; no
  * UDFs anywhere, and one sort per window ordering.
  *
  * Cost model: Spark does not code-generate `WindowExec`, and a sliding
  * ROWS frame (`rowsBetween(-n, k)`) re-aggregates its whole frame for
  * every row, so each window expression costs about its frame width in
  * aggregate updates per row. Spark evaluates every window expression of
  * a projection separately, even one equal to another, so a feature that
  * inlines its aggregates pays for each copy. The trailing features here
  * therefore return a [[Feature]]: the window aggregates it reads, each an
  * [[Agg]] named after what it computes, and a plain expression over
  * them. [[withFeatures]] binds every distinct aggregate once, in one
  * projection, and evaluates the features over those columns: rolling
  * mean and std over one frame share one `count`, and the z-score
  * detector's mean and std feed its flag, drop % and outputs.
  *
  * Scale note: all entry points take a caller-supplied [[WindowSpec]]; at
  * 100 TB the series MUST be partitioned (`Window.partitionBy(seriesKey)
  * .orderBy(ts)`) so the sort distributes. A global `orderBy` without
  * partitioning funnels into a single task — only acceptable for the small
  * post-aggregation hourly grids (≤ 10^5 rows/year/series).
  */
object WindowOps {

  /** A window aggregate to bind as the column `name`. The name spells out
    * the function, input column and frame, so equal aggregates get equal
    * names and [[withFeatures]] binds them once. Names are unique within
    * one window ordering only: bind the aggregates of one [[WindowSpec]]
    * per [[withFeatures]] call. */
  final case class Agg(name: String, over: Column) {
    def ref: Column = col(s"`$name`")
  }

  /** A feature: `value` is a plain (window-free) expression over the bound
    * columns of `aggs` and the input's own columns. */
  final case class Feature(aggs: Seq[Agg], value: Column) {
    def map(f: Column => Column): Feature = Feature(aggs, f(value))
  }

  /** Appends each named feature as a column. Every distinct aggregate the
    * features read is evaluated once, in one projection (one window
    * operator per ordering), then the features are computed over those
    * columns, which the result drops. Feature names must be new to `df`. */
  def withFeatures(df: DataFrame, features: (String, Feature)*): DataFrame = {
    val aggs = features.flatMap(_._2.aggs).distinctBy(_.name)
    df.select(col("*") +: aggs.map(a => a.over.as(a.name)): _*)
      .select(df.columns.map(c => col(s"`$c`")).toIndexedSeq ++
        features.map { case (n, f) => f.value.as(n) }: _*)
  }

  /** `fn` of column `c` over the rows [lo, hi] relative to the current one. */
  private def frameAgg(fn: String, agg: Column => Column, c: String, lo: Long, hi: Long,
                       w: WindowSpec): Agg =
    Agg(s"__${fn}_${c}_${lo}_$hi".replace('-', 'm'), agg(col(c)).over(w.rowsBetween(lo, hi)))

  /** `c` at `k` rows before the current one. */
  private def lagAgg(c: String, k: Int, w: WindowSpec): Agg =
    Agg(s"__lag${k}_$c", lag(col(c), k).over(w))

  /** Lag feature `x[t-k]` (reference `create_lag`, `pre_processing.py:333-347`).
    * Exact match to the pandas shift because the aligned grid is regular. */
  def lagF(c: String, k: Int, w: WindowSpec): Feature = {
    val l = lagAgg(c, k, w); Feature(Seq(l), l.ref)
  }

  /** `agg` over the last `n` rows, the current one included, with the
    * `min_periods` guard (reference `pre_processing.py:1173,1190,1240`):
    * the aggregate only when at least `minPeriods` non-null rows are in
    * the frame, else null — pandas `rolling(..., min_periods=p)` semantics. */
  private def rolling(fn: String, agg: Column => Column, c: String, n: Int, minPeriods: Int,
                      w: WindowSpec): Feature = {
    val cnt = frameAgg("count", count, c, 1L - n, 0L, w)
    val a = frameAgg(fn, agg, c, 1L - n, 0L, w)
    Feature(Seq(cnt, a), when(cnt.ref >= minPeriods, a.ref).otherwise(lit(null)))
  }

  /** Rolling mean over last `n` rows (`rolling_mean_jit`, `pre_processing.py:520-550`). */
  def rollAvg(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    rolling("avg", avg, c, n, minPeriods, w)

  /** Rolling *population* std — the reference divides by `count`
    * (`pre_processing.py:583`), so `stddev_pop`, not Spark's default sample
    * stddev (SURVEY §2.7 W3 footnote). */
  def rollStdPop(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    rolling("stdpop", stddev_pop, c, n, minPeriods, w)

  /** Rolling sample std (pandas `rolling().std()` default ddof=1,
    * `simple_pre_processing.py:890`). */
  def rollStdSamp(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    rolling("stdsamp", stddev_samp, c, n, minPeriods, w)

  /** Rolling median — the robust-statistics window the mean/std family
    * lacks (pandas `rolling().median()`): an exact interpolated percentile
    * over the trailing frame. O(n log n) per frame via the aggregate's
    * internal sort; at 100 TB widths stay small (24-168 rows) and the
    * window is series-partitioned, so the cost is per-row-bounded. */
  def rollMedian(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    // percentile, not median(): median is frame-restricted in Spark 4
    rolling("median", x => percentile(x, lit(0.5)), c, n, minPeriods, w)

  /** Rolling min/max (`rolling_min_jit`/`rolling_max_jit`, `pre_processing.py:587-637`). */
  def rollMin(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    rolling("min", min, c, n, minPeriods, w)
  def rollMax(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    rolling("max", max, c, n, minPeriods, w)

  /** Rolling sum with min_periods. */
  def rollSum(c: String, n: Int, minPeriods: Int, w: WindowSpec): Feature =
    rolling("sum", sum, c, n, minPeriods, w)

  /** First difference `x - x[t-1]` (`pre_processing.py:862-864`). */
  def diff(c: String, w: WindowSpec, k: Int = 1): Feature = {
    val l = lagAgg(c, k, w); Feature(Seq(l), col(c) - l.ref)
  }

  /** Gradient per second: `diff / Δt_seconds` (`pre_processing.py:878`). */
  def gradientPerSecond(c: String, ts: String, w: WindowSpec): Feature = {
    val (lc, lt) = (lagAgg(c, 1, w), lagAgg(ts, 1, w))
    val dt = unix_timestamp(col(ts)) - unix_timestamp(lt.ref)
    Feature(Seq(lc, lt), when(dt > 0, (col(c) - lc.ref) / dt.cast("double")))
  }

  /** Percent change over `p` periods (`pct_change(periods=p)*100`,
    * `pre_processing.py:870-871,1172`). Null (not ±inf) when the base is
    * 0/null — declarative rewrite of pandas' inf quirk (SURVEY §7.4-6). */
  def pctChange(c: String, p: Int, w: WindowSpec): Feature = {
    val base = lagAgg(c, p, w)
    Feature(Seq(base),
      when(base.ref.isNotNull && base.ref =!= 0, (col(c) / base.ref - 1) * 100))
  }

  /** Forward fill = most recent non-null at or before the current row
    * (pandas `ffill`, `pre_processing.py:279`). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true).over(w.rowsBetween(Long.MinValue, 0))

  /** Backward fill (pandas `bfill`, `pre_processing.py:284`). */
  def bfill(c: Column, w: WindowSpec): Column =
    first(c, ignoreNulls = true).over(w.rowsBetween(0, Long.MaxValue))

  /** Cooling-trend flag: 1 when the last 3 consecutive deltas are all
    * negative (`calculate_cooling_trend`, `pre_processing.py:874-881`).
    * Returns the *decrease indicator*; the caller sums it over a 3-row frame
    * once it is bound (window-over-window needs two projections). */
  def decreaseFlag(c: String, w: WindowSpec): Feature = {
    val prev = lagAgg(c, 1, w)
    Feature(Seq(prev), when(prev.ref.isNotNull && col(c) < prev.ref, 1).otherwise(0))
  }

  /** Trailing z-score anomaly detection (`detect_anomalies_jit`,
    * `pre_processing.py:996-1037`): stats over the previous `n` rows
    * *excluding* the current one, std floored at `stdFloor`, flag -1/+1
    * outside ±`nSigma`σ, require > `minCount` prior rows.
    * Returns the (mean, std, flag, dropPct) features, which read one
    * `count`, `avg` and `stddev_pop` between them. */
  def anomalyZ(c: String, w: WindowSpec, n: Int = 24, nSigma: Double = 2.0,
               stdFloor: Double = 0.001,
               minCount: Int = 12): (Feature, Feature, Feature, Feature) = {
    def prev(fn: String, agg: Column => Column) = frameAgg(fn, agg, c, -n.toLong, -1L, w)
    val (cnt, m, sd) = (prev("count", count), prev("avg", avg), prev("stdpop", stddev_pop))
    val s = greatest(sd.ref, lit(stdFloor))
    val x = col(c)
    val flag = when(cnt.ref <= minCount || x.isNull, 0)
      .when(x < m.ref - lit(nSigma) * s, -1)
      .when(x > m.ref + lit(nSigma) * s, 1)
      .otherwise(0)
    val dropPct = when(flag === -1 && m.ref > 0, (m.ref - x) / m.ref * 100).otherwise(lit(0.0))
    def f(v: Column) = Feature(Seq(cnt, m, sd), v)
    (f(when(cnt.ref > minCount, m.ref)), f(when(cnt.ref > minCount, s)), f(flag), f(dropPct))
  }

  /** Baseline-ratio drift `(maShort/maLong - 1)*100` (`pre_processing.py:1185-1199`). */
  def drift(c: String, shortN: Int, longN: Int, minPeriodsLong: Int, w: WindowSpec): Feature = {
    val maS = rollAvg(c, shortN, 1, w)
    val maL = rollAvg(c, longN, minPeriodsLong, w)
    Feature(maS.aggs ++ maL.aggs,
      when(maL.value.isNotNull && maL.value =!= 0, (maS.value / maL.value - 1) * 100))
  }

  /** Savitzky–Golay smoothing as a fixed-weight FIR over a centered window
    * (`savgol_filter(temps, 11, 3)`, `data_generator.py:963`). For symmetric
    * windows the order-2/3 smoothing weights coincide; width-11 weights are
    * (-36,9,44,69,84,89,84,69,44,9,-36)/429. Emits null at the edges where
    * the full window is unavailable; [[savgol11o3Interp]] supplies
    * scipy's `mode='interp'` edge handling when edge values are needed.
    * Pure expression — codegen-friendly. */
  def savgol11o3(c: Column, w: WindowSpec): Column = {
    val weights = Seq(-36, 9, 44, 69, 84, 89, 84, 69, 44, 9, -36).map(_ / 429.0)
    val terms = weights.zipWithIndex.map { case (wt, i) =>
      val off = i - 5
      val v = if (off < 0) lag(c, -off).over(w) else if (off > 0) lead(c, off).over(w) else c
      lit(wt) * v
    }
    val full = count(c).over(w.rowsBetween(-5, 5)) === 11
    when(full, terms.reduce(_ + _))
  }

  /** Edge-fit rows of scipy's `mode='interp'` for window 11 / order 3:
    * row i (i = 0..4) is the least-squares cubic fitted to a full
    * 11-point window, evaluated at position i — edge value =
    * P[i]·y[0..10]. Computed from first principles (vandermonde
    * projection P = X(XᵀX)⁻¹Xᵀ, 4×4 Gauss–Jordan inverse); the same
    * projection's central row reproduces the classic (-36,9,44,…)/429
    * interior kernel, and SavgolInterpSpec pins the construction with the
    * cubic fixed-point invariance (a degree-≤3 series passes through
    * unchanged, edges included). By the reversal symmetry of the polynomial space,
    * P[10−i][10−k] = P[i][k], so the SAME rows apply to the REVERSED
    * last-11 values for the tail edges. These doubles are the single
    * source for the Spark plan AND the generated oracle SQL. */
  lazy val savgolEdgeRows: Seq[Array[Double]] = {
    val n = 11; val p = 4
    val x = Array.tabulate(n, p)((i, j) => math.pow(i.toDouble, j.toDouble))
    val xtx = Array.tabulate(p, p)((a, b) =>
      (0 until n).map(i => x(i)(a) * x(i)(b)).sum)
    // Gauss–Jordan inverse of the 4×4 normal matrix
    val aug = Array.tabulate(p, 2 * p)((r, cc) =>
      if (cc < p) xtx(r)(cc) else if (cc - p == r) 1.0 else 0.0)
    for (colI <- 0 until p) {
      val piv = (colI until p).maxBy(r => math.abs(aug(r)(colI)))
      val tmp = aug(colI); aug(colI) = aug(piv); aug(piv) = tmp
      val d = aug(colI)(colI)
      for (cc <- 0 until 2 * p) aug(colI)(cc) /= d
      for (r <- 0 until p if r != colI) {
        val f = aug(r)(colI)
        for (cc <- 0 until 2 * p) aug(r)(cc) -= f * aug(colI)(cc)
      }
    }
    val inv = Array.tabulate(p, p)((r, cc) => aug(r)(cc + p))
    (0 until 5).map { i =>
      Array.tabulate(n) { j =>
        (0 until p).map(a => (0 until p).map(b =>
          x(i)(a) * inv(a)(b) * x(j)(b)).sum).sum
      }
    }
  }

  /** Savitzky–Golay 11/3 with scipy's `mode='interp'` edge handling —
    * closes the documented deviation of [[savgol11o3]] (nulls at edges):
    * the first/last 5 values of each series come from the cubic fitted to
    * that end's full 11-point window ([[savgolEdgeRows]]), the interior
    * stays the FIR kernel. Each series' head/tail windows collapse to ONE
    * 11-element array per series (agg-sized), joined back; series shorter
    * than 11 points emit null everywhere (scipy raises there — we stay
    * total). Frame-level operator because edges need per-series arrays,
    * not just lag/lead.
    *
    * Returns (seriesCol, orderCol, valueCol, `outCol`). */
  def savgol11o3Interp(df: DataFrame, seriesCol: String, orderCol: String,
                       valueCol: String, outCol: String,
                       scoreOut: Column => Column): DataFrame = {
    val w = Window.partitionBy(seriesCol).orderBy(orderCol)
    val wAll = Window.partitionBy(seriesCol)
    val base = df
      .select(col(seriesCol), col(orderCol), col(valueCol).cast("double").as("__v"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    def endArray(rank: Column, name: String) =
      base.filter(rank <= 11)
        .groupBy(seriesCol)
        .agg(transform(array_sort(collect_list(struct(rank.as("r"),
          col("__v").as("v")))), e => e("v")).as(name))
    val head = endArray(col("__rn"), "__h11")
    val tail = endArray(col("__n") - col("__rn") + 1, "__t11")
    def edgeDot(pos: Column, arr: Column): Column = {
      def dot(i: Int) = savgolEdgeRows(i).zipWithIndex.map { case (cf, j) =>
        lit(cf) * element_at(arr, j + 1)
      }.reduce(_ + _)
      (1 until 5).foldLeft(when(pos === 1, dot(0))) { (acc, i) =>
        acc.when(pos === i + 1, dot(i))
      }
    }
    val interior = savgol11o3(col("__v"), w)
    base
      .join(head, Seq(seriesCol))
      .join(tail, Seq(seriesCol))
      .withColumn(outCol, scoreOut(
        when(col("__n") < 11, lit(null).cast("double"))
          .when(col("__rn") <= 5, edgeDot(col("__rn"), col("__h11")))
          .when(col("__n") - col("__rn") < 5,
            edgeDot(col("__n") - col("__rn") + 1, col("__t11")))
          .otherwise(interior)))
      .select(col(seriesCol), col(orderCol), col("__v").as(valueCol), col(outCol))
  }

  /** Hampel despiking filter (Pearson's rule): over a CENTERED window of
    * `2*half+1` rows per series, flag points whose deviation from the
    * window median exceeds `nSigmas * 1.4826 * MAD` and repair them to the
    * median — the robust outlier-removal pass a sensor pipeline runs
    * before any mean/σ feature (the reference's z-score despike,
    * `pre_processing.py:1137-1170`, is the non-robust form this upgrades).
    *
    * Median and MAD are exact element picks from the sorted frame
    * (`sort_array` + `element_at` on the odd-length window), not
    * interpolated, so both engines read the identical IEEE double and the
    * flag comparison is bit-deterministic. Interior-only: rows whose frame
    * is short (series edges) pass through unflagged.
    *
    * Scale: window is series-partitioned and frame-bounded (2*half+1
    * rows), so state per row is O(window) regardless of series length —
    * and the frame pass runs CHUNKED: a per-series window's parallelism
    * is otherwise bounded by the series-key domain (the 5-series event
    * panel ran the whole sort/MAD pipeline on 5 tasks, profiled as 3
    * near-serial ~1.2-1.6 s stages of q244 with 27 cores idle; at 100 TB
    * a billion-row series is a single straggler task and an OOM). Rows
    * are split into `chunkRows`-sized chunks by per-series row number,
    * each row is duplicated into the neighbor chunk when it sits within
    * `half` rows of the boundary (the halo — ≤ 2*half extra rows per
    * chunk, 0.3% at the default sizing), frames are computed inside
    * (series, chunk) partitions, and only each row's OWN chunk keeps its
    * result. Frames at chunk boundaries see exactly the rows the
    * unchunked window saw, so the output is row-identical; series edges
    * still yield short frames and pass through unflagged. The row-number
    * pass is the one remaining series-keyed window — a plain counter,
    * O(1) state, no arrays. */
  def hampel(df: DataFrame, seriesCol: String, tsCol: String, idCol: String,
             valueCol: String, half: Int = 12, nSigmas: Double = 3.0,
             chunkRows: Int = 4096): DataFrame = {
    require(chunkRows >= 2 * half + 1,
      s"chunkRows must cover one frame (${2 * half + 1}), got $chunkRows")
    val width = 2 * half + 1
    val mid = half + 1 // 1-indexed middle of the sorted odd-length frame
    val wSeq = Window.partitionBy(seriesCol).orderBy(col(tsCol), col(idCol))
    val base = df
      .select(col(seriesCol), col(tsCol), col(idCol),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__rn", row_number().over(wSeq))
    val pos = pmod(col("__rn") - 1, lit(chunkRows))
    val own = floor((col("__rn") - 1) / lit(chunkRows)).cast("long")
    // own chunk always; halo copy to the previous/next chunk when within
    // `half` rows of the boundary (nulls drop in the filter)
    val copies = array(
      own,
      when(pos < half && own > 0, own - 1),
      when(pos >= chunkRows - half, own + 1))
    val spreadRows = base
      .select(col(seriesCol), col(idCol), col("__v"), col("__rn"), own.as("__own"),
        explode(copies).as("__ck"))
      .filter(col("__ck").isNotNull)
      // EXPLICIT repartition: the row-number exchange hashes on series
      // alone, which already SATISFIES ClusteredDistribution(series, __ck)
      // — without this the planner reuses it and the frame window runs at
      // series-key parallelism again (measured: identical stage shape).
      // One narrow extra shuffle buys chunk-level parallelism.
      .repartition(col(seriesCol), col("__ck"))
    val w = Window.partitionBy(col(seriesCol), col("__ck")).orderBy(col("__rn"))
      .rowsBetween(-half, half)
    val withFrame = spreadRows
      .withColumn("__frame", collect_list(col("__v")).over(w))
      .filter(col("__own") === col("__ck") && size(col("__frame")) === width)
      .withColumn("__med", element_at(sort_array(col("__frame")), mid))
      .withColumn("__mad", element_at(
        sort_array(transform(col("__frame"), x => abs(x - col("__med")))), mid))
    withFrame
      .filter(abs(col("__v") - col("__med")) > lit(nSigmas * 1.4826) * col("__mad"))
      .select(col(seriesCol), col(idCol), col("__v").as(valueCol),
        col("__med").as("window_median"), col("__mad").as("window_mad"))
  }
}
