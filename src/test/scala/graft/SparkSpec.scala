package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, UTC, small
  * shuffle fan-out). */
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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
