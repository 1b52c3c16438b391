package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.pipeline.KilnPipeline

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
  private def staticPlan(df: DataFrame): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try df.queryExecution.executedPlan finally spark.conf.set(key, was)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  test("toWide equals one pivot call over all value columns") {
    val labeled = out.withColumn("risk_word", lower(col("risk_level")))
    val cases = Seq(
      Seq("temp", "risk_level", "anomaly", "days_to_critical", "risk_score"),
      Seq("risk_level", "temp", "risk_word"),  // the PivotFirst half has one column
      Seq("temp", "risk_level"),              // both halves have one column
      Seq("risk_score"),
      Seq("risk_level"),
      Seq("risk_word", "risk_level"))
    cases.foreach { valueCols =>
      val aggs = valueCols.map(c => first(col(c)).as(c))
      val want = labeled.groupBy("ts").pivot("zone", Seq("3", "4", "5"))
        .agg(aggs.head, aggs.tail: _*)
      val got = KilnPipeline.toWide(labeled, Seq(3, 4, 5), valueCols)
      assert(got.schema == want.schema, valueCols)
      assert(got.orderBy("ts").collect().toSeq == want.orderBy("ts").collect().toSeq, valueCols)
      val plan = staticPlan(got)
      val text = plan.toString
      if (valueCols.exists(c => labeled.schema(c).dataType != StringType))
        assert(text.contains("pivotfirst"), valueCols)
      assert(!text.contains("first(if ((zone"), valueCols)
      assert(!nodes(plan).exists(_.isInstanceOf[SortAggregateExec]), valueCols)
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
