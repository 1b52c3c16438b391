package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.pipeline.KilnPipeline
import graft.queries.Registry

/** Semantic-parity replay on a kiln-shaped deterministic fixture
  * (FIXTURES.md §A): 2-minute readings for 3 zones over 10 days, one
  * injected accretion event with a temperature drop in its zone. */
class KilnPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-06-01 00:00:00").getTime

  // zone 3 drops 150C during the event window [day 6, day 8)
  private val evStart = Timestamp.valueOf("2024-06-07 00:00:00")
  private val evCritical = Timestamp.valueOf("2024-06-09 00:00:00")

  private lazy val readings = {
    val rows = for {
      zone <- 3 to 5
      minute <- 0 until (10 * 24 * 60) by 2
    } yield {
      val ts = new Timestamp(t0 + minute * 60000L)
      val base = 800.0 + zone * 25.0 // constant: any flag in a stable zone is a false positive
      val inEvent = zone == 3 && !ts.before(evStart) && ts.before(evCritical)
      (ts, zone, if (inEvent) base - 150.0 else base)
    }
    rows.toDF("ts", "zone", "temp")
  }

  private lazy val events = Seq(
    (1L, 3, evStart, evCritical)
  ).toDF("event_id", "zone", "start_date", "critical_date")

  private lazy val out = KilnPipeline.process(readings, events).cache()

  test("alignment yields full hourly grid per zone") {
    val grid = out.groupBy("zone").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // 10 days minus the last 2-min slot truncates to 239 hourly slots + 1
    assert(grid.values.toSet.size == 1, "all zones share the grid")
    assert(grid(3) >= 239 && grid(3) <= 241)
  }

  test("anomaly detector fires in the event zone at the drop, not elsewhere") {
    val drops = out.filter(col("anomaly") === -1)
      .groupBy("zone").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(drops.getOrElse(3, 0L) > 0, "zone 3 must flag the 150C drop")
    assert(drops.getOrElse(4, 0L) == 0 && drops.getOrElse(5, 0L) == 0,
      "stable zones must stay clean")
  }

  test("labels: active flag inside window, days_to_critical counts down, lookback flags") {
    val z3 = out.filter(col("zone") === 3)
    val active = z3.filter(col("accretion_active") === 1)
      .agg(min("ts"), max("ts")).collect().head
    assert(!active.getTimestamp(0).before(evStart))
    assert(active.getTimestamp(1).before(evCritical))
    // 30h before critical: next_48h and next_72h set, next_24h not
    val at = z3.filter(col("ts") === Timestamp.valueOf("2024-06-07 18:00:00"))
      .select("accretion_next_24h", "accretion_next_48h", "accretion_next_72h",
        "days_to_critical").collect().head
    assert(at.getInt(0) == 0 && at.getInt(1) == 1 && at.getInt(2) == 1)
    assert(math.abs(at.getDouble(3) - 1.25) < 1e-9) // 30h = 1.25 days
  }

  test("risk score is bounded and elevated during the event") {
    val stats = out.agg(min("risk_score"), max("risk_score")).collect().head
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 1.0)
    val evAvg = out.filter(col("accretion_active") === 1).agg(avg("risk_score"))
      .collect().head.getDouble(0)
    val calmAvg = out.filter(col("zone") =!= 3).agg(avg("risk_score"))
      .collect().head.getDouble(0)
    assert(evAvg > calmAvg, s"event risk $evAvg should exceed calm $calmAvg")
  }

  /** The plan Spark runs with adaptive execution off, as the benchmarks run it. */
  private def staticPlan(df: DataFrame): SparkPlan = withAqe(false)(df.queryExecution.executedPlan)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  /** The window expressions of each window operator, aliases stripped. */
  private def windowExprs(df: DataFrame): Seq[Seq[Expression]] =
    nodes(staticPlan(df)).collect { case w: WindowExec =>
      w.windowExpression.map { case a: Alias => a.child; case e => e }
    }

  /** Window expressions that some window operator evaluates twice. */
  private def repeated(windows: Seq[Seq[Expression]]): Seq[Expression] =
    windows.flatMap(_.groupBy(_.canonicalized).values.filter(_.size > 1).map(_.head))

  test("trainingMatrix equals one pivot call, risk_level derived") {
    // a missing (ts, zone) cell: its pivoted values are null, its level too
    val gap = Timestamp.valueOf("2024-06-07 12:00:00")
    val labeled = out.filter(!(col("zone") === 4 && col("ts") === gap))
    val cases = Seq(
      Seq("temp", "risk_level", "anomaly", "days_to_critical", "risk_score"),
      Seq("risk_level", "temp"),  // the level without its score
      Seq("risk_score", "risk_level"),
      Seq("temp", "risk_score"),
      Seq("risk_level"),          // one value column: bare zone names
      Seq("temp"))
    cases.foreach { valueCols =>
      val aggs = valueCols.map(c => first(col(c)).as(c))
      val pivot = labeled.groupBy("ts").pivot("zone", Seq("3", "4", "5"))
        .agg(aggs.head, aggs.tail: _*)
      val want = pivot.select(pivot.columns.map(c =>
        if (valueCols.size == 1 || c == "ts") col(s"`$c`") else col(s"`$c`").as(s"ZONE_$c")): _*)
      val got = KilnPipeline.trainingMatrix(labeled, Seq(3, 4, 5), valueCols, maxFeatures = 1000)
      assert(got.schema == want.schema, valueCols)
      val rows = got.orderBy("ts").collect().toSeq
      assert(rows == want.orderBy("ts").collect().toSeq, valueCols)
      if (valueCols.contains("risk_level")) {
        val level = if (valueCols.size == 1) "4" else "ZONE_4_risk_level"
        val cell = rows.find(_.getAs[Timestamp]("ts") == gap).get
        assert(cell.isNullAt(cell.fieldIndex(level)), valueCols)
        assert(rows.count(r => r.isNullAt(r.fieldIndex(level))) == 1, valueCols)
      }
      val plan = staticPlan(got)
      val text = plan.toString
      assert(text.contains("pivotfirst"), valueCols)
      assert(!text.contains("first(if ((zone") && !text.contains("collect_list"), valueCols)
      assert(!nodes(plan).exists(_.isInstanceOf[SortAggregateExec]), valueCols)
      assert(!nodes(plan).exists(_.isInstanceOf[BaseJoinExec]), valueCols)
    }
    assert(intercept[IllegalArgumentException](
      KilnPipeline.toWide(labeled, Seq(3, 4, 5), Seq("temp", "risk_level"))
    ).getMessage.contains("risk_level"))
  }

  test("process evaluates each window aggregate once") {
    // a plan of its own: the cached `out` would stand in for an identical one
    val windows = windowExprs(KilnPipeline.process(readings, events.filter(col("event_id").isNotNull)))
    info(s"window expressions per operator: ${windows.map(_.size).mkString(", ")}")
    assert(repeated(windows).isEmpty, repeated(windows).mkString("; "))
    assert(windows.map(_.size).sum <= 16)
  }

  test("window queries q31 q36 q37 q38 q70 evaluate each window aggregate once") {
    Seq("q31_rolling_mean_std", "q36_anomaly_zscore", "q37_drift", "q38_zscore_spread",
      "q70_early_warning").foreach { q =>
      val windows = windowExprs(Registry.all(q).fn(spark, sfTiny))
      info(s"$q: ${windows.map(_.size).mkString(", ")}")
      assert(repeated(windows).isEmpty, s"$q: ${repeated(windows).mkString("; ")}")
    }
  }

  test("zone windows read zone-partitioned input, never a single partition") {
    // a plan of its own: the cached `out` would stand in for an identical one
    val plan = staticPlan(KilnPipeline.process(readings, events.filter(col("event_id").isNotNull)))
    val windows = nodes(plan).collect { case w: WindowExec if w.partitionSpec.nonEmpty => w }
    assert(windows.nonEmpty)
    val single = windows.filter(_.child.outputPartitioning == SinglePartition)
    assert(single.isEmpty, s"${single.size} of ${windows.size} windows read a single partition")
  }

  test("wide pivot produces per-zone columns on the reduced frame") {
    val wide = KilnPipeline.toWide(out, Seq(3, 4, 5), Seq("temp", "risk_score"))
    assert(wide.columns.toSet.contains("3_temp") && wide.columns.toSet.contains("5_risk_score"))
    assert(wide.count() == out.select("ts").distinct().count())
  }
}
