package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series alignment — the reference's signature operation (SURVEY §2.4):
  * canonical timeline generation, resample (down/up), forward-fill,
  * linear interpolation, as-of and nearest joins
  * (`pre_processing.py:180-243`, `simple_pre_processing.py:160-200`).
  *
  * Scale design: the hourly grid is tiny (8.8k rows/year) even at 100 TB of
  * raw readings, so grid × series-key cross joins broadcast; the heavy side
  * (raw readings) is reduced FIRST by a partial-aggregating groupBy, so the
  * only shuffle over big data is one hash aggregation keyed by
  * (bucket, series) — no global sort ever touches raw rows.
  */
object TimeSeriesOps {

  /** Canonical step timeline [min(ts), max(ts)] truncated to `unit`
    * (reference `pd.date_range`, `pre_processing.py:199-204`).
    * The bounds row is a 1-row aggregate; `sequence` + `explode` keeps the
    * grid a DataFrame without any driver-side collect. */
  def timeline(df: DataFrame, tsCol: String, unit: String = "hour",
               step: String = "interval 1 hour"): DataFrame =
    df.agg(date_trunc(unit, min(col(tsCol))).as("__a"),
           date_trunc(unit, max(col(tsCol))).as("__b"))
      .select(explode(expr(s"sequence(__a, __b, $step)")).as("ts"))

  /** Downsample to a bucket mean (reference `resample('1h').mean()`,
    * `pre_processing.py:240`): tumbling-window aggregate = one partial+final
    * hash agg, the only operation that scans raw data. */
  def downsample(df: DataFrame, tsCol: String, keys: Seq[String],
                 aggs: Seq[Column], unit: String = "hour"): DataFrame = {
    val g = date_trunc(unit, col(tsCol)).as("ts")
    df.groupBy(g +: keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Dense grid: timeline × the distinct key set, left joined with the
    * sparse per-bucket data — reference `align_time_series`'s
    * reindex-onto-timeline (`pre_processing.py:208-241`). Output columns:
    * the grid's, then the key set's, then the data's non-join columns.
    *
    * Partitioning: the key set streams and the grid (one row per step,
    * bounded by its scalar min/max aggregate) is broadcast, so the output
    * keeps the key set's partitioning — for a `distinct()` key set, hash
    * partitioning on the keys. Per-key windows downstream then run one
    * task per key partition. Streaming the grid instead would leave the
    * output in one partition (an `explode` over a global aggregate), which
    * satisfies every per-key window's clustering and runs all series in a
    * single task. */
  def alignToGrid(grid: DataFrame, keysDf: DataFrame, data: DataFrame,
                  joinCols: Seq[String]): DataFrame =
    keysDf.crossJoin(broadcast(grid))
      .select((grid.columns ++ keysDf.columns).map(c => col(s"`$c`")): _*)
      .join(data, joinCols, "left")

  /** Forward-fill upsample (reference `resample('1h').ffill()`,
    * `pre_processing.py:208-225`): most recent non-null at or before each
    * grid slot, per series. One window sort per series partition. */
  def ffillCols(aligned: DataFrame, seriesKeys: Seq[String], tsCol: String,
                valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(seriesKeys.map(col): _*).orderBy(col(tsCol))
    valueCols.foldLeft(aligned) { (df, c) => df.withColumn(c, WindowOps.ffill(col(c), w)) }
  }

  /** Linear interpolation upsample (reference `resample('1h').interpolate()`,
    * `pre_processing.py:229`). pandas edge semantics preserved: leading
    * nulls stay null; trailing nulls carry the last valid value
    * (SURVEY §7.4-2). Returns the interpolated column expression builder. */
  def interpolateCol(aligned: DataFrame, seriesKeys: Seq[String], tsCol: String,
                     valueCol: String, out: String): DataFrame = {
    val w = Window.partitionBy(seriesKeys.map(col): _*).orderBy(col(tsCol))
    val v = col(valueCol); val ts = col(tsCol)
    val tsIfV = when(v.isNotNull, ts)
    val prevV = last(v, ignoreNulls = true).over(w.rowsBetween(Long.MinValue, 0))
    val prevT = last(tsIfV, ignoreNulls = true).over(w.rowsBetween(Long.MinValue, 0))
    val nextV = first(v, ignoreNulls = true).over(w.rowsBetween(0, Long.MaxValue))
    val nextT = first(tsIfV, ignoreNulls = true).over(w.rowsBetween(0, Long.MaxValue))
    val num = (unix_timestamp(ts) - unix_timestamp(prevT)).cast("double")
    val den = (unix_timestamp(nextT) - unix_timestamp(prevT)).cast("double")
    val interp =
      when(v.isNotNull, v)
        .when(prevV.isNotNull && nextV.isNotNull && den > 0, prevV + (nextV - prevV) * num / den)
        .when(prevV.isNotNull, prevV) // trailing: carry last valid
        .otherwise(lit(null))          // leading: stay null
    aligned.withColumn(out, interp)
  }

  /** As-of join: for each left row, the latest right value with
    * `right.ts <= left.ts` in the same key group (reference
    * `get_current_inputs` replay, `data_generator.py:313-340`; SURVEY J6).
    *
    * Implemented with the union-then-window trick: tag both sides, sort once
    * per key partition, forward-fill right values onto left rows. This is
    * the scalable formulation — a single shuffle on the key, no range-join
    * row explosion, works for billions of rows per side.
    * Right rows that tie on ts with a left row sort first, so an exact-ts
    * match is visible to the left row ("at or before").
    *
    * CONTRACT: `right` must be unique per (keys, rightTs) — with duplicate
    * right timestamps the forward-fill picks an arbitrary tied row
    * (partition-order dependent). Either pre-aggregate duplicates
    * deterministically (as q24_asof_join does) or pass `rightTiebreak`:
    * the row with the MAX tiebreak value per (keys, ts) wins, and all its
    * value columns travel together (one `max_by` on a struct, not one per
    * column — per-column max_by could stitch values from different tied
    * rows). The tiebreak must itself be unique within a (keys, ts) group
    * for full determinism (e.g. an ingest sequence number). */
  def asofJoinLast(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String,
                   valueCols: Seq[String],
                   rightTiebreak: Option[Column] = None): DataFrame = {
    val rightDeduped = rightTiebreak.fold(right) { tb =>
      right.groupBy(keys.map(col) :+ col(rightTs): _*)
        .agg(max_by(struct(valueCols.map(col): _*), tb).as("__s"))
        .select(keys.map(col) ++ Seq(col(rightTs)) ++
          valueCols.map(c => col(s"__s.$c").as(c)): _*)
    }
    val lCols = left.columns
    val lTagged = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
      .select(Seq(col("__ts"), col("__side")) ++ keys.map(col) ++
        lCols.filterNot(keys.contains).map(c => col(c).as(s"__l_$c")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val rTagged = rightDeduped.withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))
      .select(Seq(col("__ts"), col("__side")) ++ keys.map(col) ++
        lCols.filterNot(keys.contains).map(c => lit(null).cast(left.schema(c).dataType).as(s"__l_$c")) ++
        valueCols.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__ts"), col("__side"))
    val filled = valueCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(c, WindowOps.ffill(col(c), w))
    }
    filled.filter(col("__side") === 1)
      .select(keys.map(col) ++
        lCols.filterNot(keys.contains).map(c => col(s"__l_$c").as(c)) ++
        valueCols.map(col): _*)
  }

  /** As-of join with a staleness tolerance (pandas `merge_asof(...,
    * tolerance=...)`): a match older than `toleranceSeconds` before the
    * left timestamp is DISCARDED — nulls, not stale data, which is what a
    * serving join over sensor feeds must do when a series goes quiet.
    * Rides the exact [[asofJoinLast]] union-window machinery with the
    * matched right timestamp carried as one extra filled column; the
    * staleness mask is row-local arithmetic after the fill, so the cost
    * over the tolerance-free join is one integer comparison per row. */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftTs: String, rightTs: String,
                        valueCols: Seq[String], toleranceSeconds: Long,
                        rightTiebreak: Option[Column] = None): DataFrame = {
    require(toleranceSeconds > 0, s"tolerance must be positive, got $toleranceSeconds")
    val r2 = right.withColumn("__mts", col(rightTs))
    val joined = asofJoinLast(left, r2, keys, leftTs, rightTs,
      valueCols :+ "__mts", rightTiebreak)
    val stale = col("__mts").isNull ||
      (unix_micros(col(leftTs)) - unix_micros(col("__mts")) >
        toleranceSeconds * 1000000L)
    valueCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, when(stale, lit(null).cast(right.schema(c).dataType))
        .otherwise(col(c)))
    }.drop("__mts")
  }

  /** Nearest-neighbor reindex (reference `reindex(method='nearest')`,
    * `data_generator.py:953`): both-direction as-of, pick the closer value
    * (ties → the earlier/previous one, matching pandas). Expects `aligned`
    * to already be grid ⟕ data with nulls at empty slots. */
  def nearestCols(aligned: DataFrame, seriesKeys: Seq[String], tsCol: String,
                  valueCol: String, out: String): DataFrame = {
    val w = Window.partitionBy(seriesKeys.map(col): _*).orderBy(col(tsCol))
    val v = col(valueCol); val ts = col(tsCol)
    val tsIfV = when(v.isNotNull, ts)
    val prevV = last(v, ignoreNulls = true).over(w.rowsBetween(Long.MinValue, 0))
    val prevT = last(tsIfV, ignoreNulls = true).over(w.rowsBetween(Long.MinValue, 0))
    val nextV = first(v, ignoreNulls = true).over(w.rowsBetween(0, Long.MaxValue))
    val nextT = first(tsIfV, ignoreNulls = true).over(w.rowsBetween(0, Long.MaxValue))
    val dPrev = unix_timestamp(ts) - unix_timestamp(prevT)
    val dNext = unix_timestamp(nextT) - unix_timestamp(ts)
    val nearest =
      when(prevV.isNotNull && (nextV.isNull || dPrev <= dNext), prevV)
        .when(nextV.isNotNull, nextV)
    aligned.withColumn(out, nearest)
  }

  /** Cadence diagnostic (reference `pd.infer_freq(df.index)`,
    * `pre_processing.py:396`): per series, the MODAL gap between
    * consecutive timestamps (microsecond precision; count ties resolve to
    * the smallest gap) plus `inferred_freq_us`, which is non-null only
    * when the series is perfectly regular — `infer_freq`'s contract of
    * returning None on irregular indexes, where the reference falls back
    * to hourly. Two hash aggregations after one series-partitioned sort;
    * no driver-side gap scan. */
  def inferCadence(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val counts = df
      .withColumn("__gap", unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)))
      .filter(col("__gap").isNotNull)
      .groupBy(keys.map(col) :+ col("__gap"): _*)
      .agg(count(lit(1)).as("__cnt"))
    counts
      .groupBy(keys.map(col): _*)
      .agg(
        max_by(col("__gap"), struct(col("__cnt"), (-col("__gap")).as("g"))).as("modal_gap_us"),
        count(lit(1)).as("n_gap_values"))
      // modal_gap_us > 0 guards the degenerate all-duplicate-timestamp
      // series: a "frequency" of 0 would skip the caller's fall-back
      // branch and divide-by-zero any grid arithmetic built on it
      .withColumn("inferred_freq_us",
        when(col("n_gap_values") === 1 && col("modal_gap_us") > 0, col("modal_gap_us")))
  }

  /** OHLC resample bars (pandas `resample(freq).ohlc()` — the candlestick
    * summary of an irregular series): per series per `truncUnit` bucket,
    * open/close = first/last value in (ts, id) order, high/low = max/min,
    * plus row count and mean. One map-side-combinable aggregate — open and
    * close ride `min_by`/`max_by` over the (ts, id) struct, so there is no
    * per-bucket sort and no window, just a single hash aggregate that
    * scales with bucket cardinality, never row count. */
  def ohlcBars(df: DataFrame, seriesCol: String, tsCol: String, idCol: String,
               valueCol: String, truncUnit: String = "hour"): DataFrame = {
    val v = col(valueCol).cast("double")
    val key = struct(col(tsCol), col(idCol))
    df.groupBy(col(seriesCol), date_trunc(truncUnit, col(tsCol)).as("bar_ts"))
      .agg(
        min_by(v, key).as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max_by(v, key).as("close"),
        count(lit(1)).as("n_rows"),
        avg(v).as("mean_value"))
  }
}
