package graft

import graft.queries.Registry

/** Scheduler-job budgets of the iterative graph family at sf0.001: the
  * supersteps of these queries run while the DataFrame is built, so
  * their cost is dominated by job count. A query's count is the jobs one
  * build + collect schedules (construction and drain), the smaller of two
  * such runs: AQE's stage submission occasionally adds or saves one job
  * (seen on q233 and q327), and a change that really adds a job adds it
  * to both runs.
  *
  * A budget is the highest count measured over the runs of the code it
  * was pinned on; q306's went from 42 to 41 when HITS' initial
  * checkpoint became lazy. Budgets may only TIGHTEN: lower one when a
  * change saves jobs, never raise one to make a change pass. */
class JobBudgetSpec extends SparkSpec {

  private val budgets = Seq(
    "q233_trade_pagerank" -> 43,
    "q287_bfs_reach" -> 25,
    "q306_hits" -> 41,
    "q323_kcore" -> 26,
    "q327_textrank" -> 38,
    "q330_label_propagation" -> 25,
    "q337_louvain" -> 50,
    "q347_louvain_multilevel" -> 73)

  budgets.foreach { case (name, budget) =>
    test(s"$name schedules at most $budget jobs at sf0.001") {
      val counts = (1 to 2).map { run =>
        // drop frames persisted earlier: a cache hit would hide jobs
        spark.catalog.clearCache()
        try jobsIn(s"budget-$name-$run") {
          Registry.all(name).fn(spark, sfTiny).collect()
        } finally spark.catalog.clearCache()
      }
      assert(counts.min <= budget,
        s"$name scheduled ${counts.mkString(" and ")} jobs, budget $budget")
    }
  }
}
