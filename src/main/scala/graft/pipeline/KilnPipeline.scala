package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.PivotFirst
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{JoinOps, TimeSeriesOps, WindowOps}

/** The reference's 10-stage `KilnDataPreprocessor.process()`
  * (`pre_processing.py:1741-2020`) as ONE lazily-composed plan.
  *
  * Where the reference materializes each stage eagerly (del + gc between
  * stages, thread pools inside, pickle spills), this builds a single
  * expression tree: the window passes of stages 2-8 share one hash
  * partitioning on zone, taken from the aligned frame's key set
  * ([[TimeSeriesOps.alignToGrid]]), and one (zone, ts) sort, so they
  * exchange no rows between them and run one task per zone partition;
  * each distinct window aggregate of the feature stage is evaluated once
  * per row ([[features]]); the label join is one broadcast nested loop
  * against the tiny event table, and a single action materializes
  * everything (SURVEY §3.1).
  *
  * Data stays LONG (ts, zone, temp) throughout the feature stages — the
  * scale-critical choice (SURVEY §7.4-1): all windows partition by zone, so
  * the sort distributes; the wide pivot happens only at the end, on the
  * reduced hourly frame, in one two-phase `PivotFirst` aggregate
  * ([[trainingMatrix]]).
  */
object KilnPipeline {

  /** Stage 2: multi-frequency alignment — downsample raw readings to the
    * hourly grid per zone, densify against the canonical timeline, ffill
    * gaps (reference `align_time_series`, `pre_processing.py:180-243`). */
  def align(readings: DataFrame, tsCol: String = "ts", zoneCol: String = "zone",
            tempCol: String = "temp"): DataFrame = {
    val hourly = readings
      .groupBy(date_trunc("hour", col(tsCol)).as("ts"), col(zoneCol).as("zone"))
      .agg(avg(tempCol).as("temp"))
    val grid = TimeSeriesOps.timeline(readings, tsCol)
    val zones = readings.select(col(zoneCol).as("zone")).distinct()
    val aligned = TimeSeriesOps.alignToGrid(grid, zones, hourly, Seq("ts", "zone"))
    TimeSeriesOps.ffillCols(aligned, Seq("zone"), "ts", Seq("temp"))
  }

  /** Stages 3-7: imputation remainder + lag/rolling/differential/anomaly
    * features (reference stages `impute..detect_temp_anomalies`,
    * `pre_processing.py:1843-1888`), one window pass family per zone.
    *
    * With the default lags and windows, the 13 distinct window aggregates
    * the features read (4 lags; count, mean and population std over the
    * 24- and 72-row trailing frames and over the z-score detector's
    * previous 24 rows) are each evaluated once per row, in one window
    * operator ([[WindowOps.withFeatures]]); the features are plain
    * expressions over them. The median imputation and the `drops_12h`
    * count over the bound anomaly flag are one window operator each. */
  def features(aligned: DataFrame,
               lags: Seq[Int] = Seq(1, 6, 24),
               rollWindows: Seq[Int] = Seq(24, 72)): DataFrame = {
    val w = Window.partitionBy("zone").orderBy("ts")
    val med = Window.partitionBy("zone")
    val withImpute = aligned
      .withColumn("temp", coalesce(col("temp"), expr("percentile(temp, 0.5)").over(med)))
    val rolls = rollWindows.flatMap { n =>
      val p = math.max(2, n / 4)
      Seq(s"temp_ma_$n" -> WindowOps.rollAvg("temp", n, p, w),
        s"temp_std_$n" -> WindowOps.rollStdPop("temp", n, p, w))
    }
    val (m24, s24, flag, dropPct) = WindowOps.anomalyZ("temp", w)
    val all = lags.map(k => s"temp_lag_$k" -> WindowOps.lagF("temp", k, w)) ++ rolls ++ Seq(
      "temp_diff" -> WindowOps.diff("temp", w),
      "temp_pct_3h" -> WindowOps.pctChange("temp", 3, w),
      "cooling_dec" -> WindowOps.decreaseFlag("temp", w),
      "anomaly_mean" -> m24,
      "anomaly_std" -> s24,
      "anomaly" -> flag,
      "drop_pct" -> dropPct)
    WindowOps.withFeatures(withImpute, all: _*)
      .withColumn("drops_12h",
        sum((col("anomaly") === -1).cast("int")).over(w.rowsBetween(-11, 0)))
  }

  /** The reference's risk bucket of a score in [0, 1] (null for a null
    * score). `risk_level` is this function of `risk_score` everywhere. */
  def riskLevel(score: Column): Column =
    when(score < 0.25, "Low")
      .when(score < 0.5, "Moderate")
      .when(score < 0.75, "High")
      .when(score.isNotNull, "Critical")

  /** Stage 9: composite risk indicators (reference
    * `create_accretion_indicator_features`, `pre_processing.py:1363-1439`):
    * weighted sum of normalized signals, bucketed to ordered labels. */
  def riskScore(featured: DataFrame): DataFrame = {
    val score =
      (col("anomaly") === -1).cast("double") * 0.4 +
      coalesce(col("drops_12h").cast("double") / 12.0, lit(0.0)) * 0.3 +
      (coalesce(col("cooling_dec"), lit(0)) === 1).cast("double") * 0.1 +
      coalesce(
        when(col("anomaly_mean") > 0, (col("anomaly_mean") - col("temp")) / col("anomaly_mean"))
          .otherwise(lit(0.0)), lit(0.0)) * 0.2
    featured
      .withColumn("risk_score", greatest(least(score, lit(1.0)), lit(0.0)))
      .withColumn("risk_level", riskLevel(col("risk_score")))
  }

  /** Stage 10: interval-event labeling (reference `create_target_variables`,
    * `pre_processing.py:1443-1562`): active flag, zone match,
    * days-to-critical, look-back flags.
    *
    * The interval join and multi-event collapse run on a SLIM (ts, zone)
    * projection — the wide feature row never enters the nested-loop join or
    * the aggregation, it re-attaches through one equi-join on the key. At
    * scale this keeps the BNLJ probe rows at two columns and replaces a
    * 40-column groupBy with a 2-column one; (ts, zone) is unique in the
    * aligned frame, so the left join preserves cardinality exactly. */
  def label(featured: DataFrame, events: DataFrame,
            lookbackHours: Seq[Int] = Seq(24, 48, 72)): DataFrame = {
    val ev = events.select(
      col("event_id"), col("zone").as("ev_zone"),
      col("start_date"), col("critical_date"))
    val keys = featured.select("ts", "zone")
    val joined = JoinOps.pointInInterval(
      keys, ev, col("ts"), col("start_date"), col("critical_date"), "left")
      .withColumn("same_zone", col("ev_zone").isNotNull && col("ev_zone") === col("zone"))
    val labels = joined
      .groupBy("ts", "zone")
      .agg(
        max(when(col("same_zone"), 1).otherwise(0)).as("accretion_active"),
        min(when(col("same_zone"),
          (unix_timestamp(col("critical_date")) - unix_timestamp(col("ts"))) / 86400.0))
          .as("days_to_critical"))
    val lookbacks = lookbackHours.map { h =>
      when(col("days_to_critical").isNotNull &&
        col("days_to_critical") >= 0 &&
        col("days_to_critical") <= h / 24.0, 1).otherwise(0).as(s"accretion_next_${h}h")
    }
    featured.join(labels, Seq("ts", "zone"), "left")
      .select(featured.columns.map(col) ++
        Seq(col("accretion_active"), col("days_to_critical")) ++ lookbacks: _*)
  }

  /** Final reshape: pivot the reduced per-zone hourly frame wide
    * (reference's aligned matrix, `pre_processing.py:1941`), with explicit
    * zone values to skip the pivot-discovery pass: `ts`, then
    * `<zone>_<col>` for each zone and value column (a bare `<zone>` when
    * there is one value column), each the `first` value of its cell.
    *
    * Value columns must be of a type Spark's `PivotFirst` supports
    * (numeric, boolean, decimal). One other column in the call (the string
    * `risk_level`, say) makes the analyzer drop the two-phase `PivotFirst`
    * hash aggregate for the whole call and evaluate zones × columns
    * `first(if (zone <=> k) c else null)` aggregates on every row, in a
    * non-codegen `SortAggregate`. [[trainingMatrix]] derives `risk_level`
    * after the pivot instead. */
  def toWide(labeled: DataFrame, zones: Seq[Int], valueCols: Seq[String]): DataFrame = {
    val other = valueCols.filterNot(c => PivotFirst.supportsDataType(labeled.schema(c).dataType))
    require(other.isEmpty, s"toWide pivots PivotFirst-capable columns only, got ${other.mkString(", ")}")
    val aggs = valueCols.map(c => first(col(c)).as(c))
    labeled.groupBy("ts").pivot("zone", zones.map(_.toString)).agg(aggs.head, aggs.tail: _*)
  }

  /** The whole pipeline, end to end, as one plan. */
  def process(readings: DataFrame, events: DataFrame): DataFrame =
    label(riskScore(features(align(readings))), events)

  /** The reference's training input (`pre_processing.py:1941`): the labeled
    * frame pivoted wide (`ZONE_<z>_<feature>` names; a bare `<z>` for a
    * single feature) with the priority-class feature cap applied — at full
    * feature width the pivot emits `zones × features` columns, and
    * [[FeatureSelect.reduceDimension]] is what keeps the downstream vector
    * assembly bounded.
    *
    * Columns, order and values are those of one `first` pivot over all of
    * `valueCols`. `risk_level` is not pivoted: [[toWide]] pivots
    * `risk_score`, and each `<z>_risk_level` is [[riskLevel]] of its
    * zone's score, null where the (ts, zone) cell is missing. */
  def trainingMatrix(labeled: DataFrame, zones: Seq[Int], valueCols: Seq[String],
                     maxFeatures: Int = 500): DataFrame = {
    val pivoted = valueCols.map(c => if (c == "risk_level") "risk_score" else c).distinct
    val wide = toWide(labeled, zones, pivoted)
    def cell(z: Int, c: String) = wide(if (pivoted.size == 1) s"`$z`" else s"`${z}_$c`")
    // one select, not a column per withColumn: the pivot emits zones ×
    // features columns and each withColumn would add a full analyzer pass
    val named = wide.select(wide("ts") +: (for (z <- zones; c <- valueCols) yield {
      val v = if (c == "risk_level") riskLevel(cell(z, "risk_score")) else cell(z, c)
      v.as(if (valueCols.size == 1) z.toString else s"ZONE_${z}_$c")
    }): _*)
    // ts is the frame's INDEX (the reference's DatetimeIndex, which
    // reduce_dimension never sees in pandas) — excluded from the cap
    FeatureSelect.reduceDimension(named, maxFeatures, exclude = Seq("ts"))
  }
}
