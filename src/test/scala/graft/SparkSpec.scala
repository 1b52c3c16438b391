package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: one JVM-wide `Bench.session` on
  * `local[4]` with 4 shuffle partitions, so the suites run the profile the
  * benchmark times (AQE off; specs that test AQE turn it on with
  * [[withAqe]]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfTiny = "/root/testdata/sf0.001"

  /** Runs `f` with adaptive query execution on or off, then restores the
    * session's setting. */
  def withAqe[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, was)
  }

  /** Every node of a physical plan, descending into adaptive plans, query
    * stages and reused exchanges — an AQE-off plan shows a repeated
    * subtree only once, as the child of a `ReusedExchangeExec`, so a walk
    * that stops there misses what the reuse runs. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: planNodes(a.executedPlan)
    case q: QueryStageExec => p +: planNodes(q.plan)
    case r: ReusedExchangeExec => p +: planNodes(r.child)
    case _ => p +: p.children.flatMap(planNodes)
  }

  /** Count the Spark jobs a thunk schedules, via the public
    * status-tracker job-group API (the status store updates async from
    * the listener bus, so poll until the count is stable). */
  def jobsIn(group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    var prev = -1
    var cur = sc.statusTracker.getJobIdsForGroup(group).length
    var spins = 0
    while (cur != prev && spins < 50) {
      prev = cur; Thread.sleep(100)
      cur = sc.statusTracker.getJobIdsForGroup(group).length
      spins += 1
    }
    cur
  }
}

object SparkSpec {
  lazy val session: SparkSession = Bench.session(4)
}
