package perfbench

import org.apache.spark.sql.SparkSession

/** The measured session: `graft.Bench`'s configuration, key for key, on
  * `local[cores]`, with the session's scratch space inside the work
  * directory. */
object Session {
  /** `graft.Bench`'s session settings for a given core count. */
  def benchSettings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  def start(cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    benchSettings(cores).foreach { case (k, v) => b.config(k, v) }
    val s = b
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Releases what a query persisted, as `graft.Bench` does between
    * queries: the SQL cache and every persisted RDD, blocking. */
  def release(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
