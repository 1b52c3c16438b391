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
  * the label join is one broadcast nested loop against the tiny event
  * table, and a single action materializes everything (SURVEY §3.1).
  *
  * Data stays LONG (ts, zone, temp) throughout the feature stages — the
  * scale-critical choice (SURVEY §7.4-1): all windows partition by zone, so
  * the sort distributes; the wide pivot happens only at the end, on the
  * reduced hourly frame.
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
    * `pre_processing.py:1843-1888`), one window pass family per zone. */
  def features(aligned: DataFrame,
               lags: Seq[Int] = Seq(1, 6, 24),
               rollWindows: Seq[Int] = Seq(24, 72)): DataFrame = {
    val w = Window.partitionBy("zone").orderBy("ts")
    val med = Window.partitionBy("zone")
    val v = col("temp")
    val withImpute = aligned
      .withColumn("temp", coalesce(v, expr("percentile(temp, 0.5)").over(med)))
    val withLags = lags.foldLeft(withImpute) { (df, k) =>
      df.withColumn(s"temp_lag_$k", WindowOps.lagF(col("temp"), k, w))
    }
    val withRoll = rollWindows.foldLeft(withLags) { (df, n) =>
      df.withColumn(s"temp_ma_$n", WindowOps.rollAvg(col("temp"), n, math.max(2, n / 4), w))
        .withColumn(s"temp_std_$n", WindowOps.rollStdPop(col("temp"), n, math.max(2, n / 4), w))
    }
    val (m24, s24, flag, dropPct) = WindowOps.anomalyZ(col("temp"), w)
    withRoll
      .withColumn("temp_diff", WindowOps.diff(col("temp"), w))
      .withColumn("temp_pct_3h", WindowOps.pctChange(col("temp"), 3, w))
      .withColumn("cooling_dec", WindowOps.decreaseFlag(col("temp"), w))
      .withColumn("anomaly_mean", m24)
      .withColumn("anomaly_std", s24)
      .withColumn("anomaly", flag)
      .withColumn("drop_pct", dropPct)
      .withColumn("drops_12h",
        sum((flag === -1).cast("int")).over(w.rowsBetween(-11, 0)))
  }

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
      .withColumn("risk_level",
        when(col("risk_score") < 0.25, "Low")
          .when(col("risk_score") < 0.5, "Moderate")
          .when(col("risk_score") < 0.75, "High")
          .otherwise("Critical"))
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
    * zone values to skip the pivot-discovery pass. Columns and values are
    * those of one `pivot("zone", zones).agg(first(c) ...)` over all of
    * `valueCols`: `ts`, then `<zone>_<col>` for each zone and value column
    * (a bare `<zone>` when there is one value column).
    *
    * Columns whose type Spark's `PivotFirst` supports (numeric, boolean,
    * decimal) are pivoted apart from the rest. One other column in the
    * same pivot call (here the string `risk_level`) makes the analyzer drop
    * its two-phase `PivotFirst` rewrite for the whole call and evaluate
    * zones × columns `first(if (zone <=> k) c else null)` aggregates on
    * every row, in a non-codegen `SortAggregate` (a string in the
    * aggregation buffer rules out the hash aggregate). Pivoted alone, the
    * capable columns take the two-phase hash-aggregate path. The rest
    * pivot `collect_list`, whose object buffer runs in
    * `ObjectHashAggregate`; its first element is the first non-null value,
    * which is what the fallback's null-skipping `first` returns. The two
    * halves join on `ts`. */
  def toWide(labeled: DataFrame, zones: Seq[Int], valueCols: Seq[String]): DataFrame = {
    val values = zones.map(_.toString)
    val (capable, other) =
      valueCols.partition(c => PivotFirst.supportsDataType(labeled.schema(c).dataType))
    val halves = Seq(
      capable -> ((c: Column) => first(c)),
      other -> ((c: Column) => get(collect_list(c), lit(0))))
      .filter(_._1.nonEmpty).map { case (cols, agg) =>
        val aggs = cols.map(c => agg(col(c)).as(c))
        cols -> labeled.groupBy("ts").pivot("zone", values).agg(aggs.head, aggs.tail: _*)
      }
    // a pivot of one column names its outputs by the bare zone
    val cell = halves.flatMap { case (cols, p) =>
      cols.map(c => c -> ((z: String) => p(if (cols.size == 1) s"`$z`" else s"`${z}_$c`")))
    }.toMap
    halves.map(_._2).reduce(_.join(_, "ts")).select(col("ts") +:
      (for (z <- values; c <- valueCols)
        yield cell(c)(z).as(if (valueCols.size == 1) z else s"${z}_$c")): _*)
  }

  /** The whole pipeline, end to end, as one plan. */
  def process(readings: DataFrame, events: DataFrame): DataFrame =
    label(riskScore(features(align(readings))), events)

  /** The reference's training input (`pre_processing.py:1941`): the labeled
    * frame pivoted wide (`ZONE_<z>_<feature>` names) with the priority-class
    * feature cap applied — at full feature width the pivot emits
    * `zones × features` columns, and [[FeatureSelect.reduceDimension]] is
    * what keeps the downstream vector assembly bounded. */
  def trainingMatrix(labeled: DataFrame, zones: Seq[Int], valueCols: Seq[String],
                     maxFeatures: Int = 500): DataFrame = {
    val wide = toWide(labeled, zones, valueCols)
    // one select, not a rename per column: the pivot emits zones × features
    // columns and each withColumnRenamed would add a full analyzer pass
    val pat = "^(\\d+)_(.+)$".r
    val renamed = wide.select(wide.columns.map { c =>
      pat.findFirstMatchIn(c).fold(col(s"`$c`"))(g =>
        col(s"`$c`").as(s"ZONE_${g.group(1)}_${g.group(2)}"))
    }: _*)
    // ts is the frame's INDEX (the reference's DatetimeIndex, which
    // reduce_dimension never sees in pandas) — excluded from the cap
    FeatureSelect.reduceDimension(renamed, maxFeatures, exclude = Seq("ts"))
  }
}
