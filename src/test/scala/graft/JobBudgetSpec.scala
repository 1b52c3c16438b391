package graft

import graft.queries.Registry

/** Scheduler-job budgets of the iterative graph family and of q153's
  * fused ANN-recall loop at sf0.001: the supersteps of these queries run
  * while the DataFrame is built, so their cost is dominated by job
  * count. A query's count is the jobs one
  * build + collect schedules (construction and drain), the smaller of two
  * such runs: AQE's stage submission occasionally adds or saves one job
  * (seen on q233 and q327), and a change that really adds a job adds it
  * to both runs.
  *
  * A budget is the highest count measured over the runs of the code it
  * was pinned on. The graph family's budgets dropped to its
  * driver-local regime's counts (q233 43 → 16, q287 25 → 9, q306 41 → 8,
  * q323 26 → 10, q327 38 → 9, q330 25 → 10, q337 50 → 10, q347 73 → 10):
  * what remains is the edge pipeline, the one collect that picks the
  * regime, and the drain. Budgets may only TIGHTEN: lower one when a
  * change saves jobs, never raise one to make a change pass. Test names
  * leave the budget out, so tightening one keeps its test's name. */
class JobBudgetSpec extends SparkSpec {

  private val budgets = Seq(
    "q153_ann_recall" -> 13,
    "q233_trade_pagerank" -> 16,
    "q287_bfs_reach" -> 9,
    "q306_hits" -> 8,
    "q323_kcore" -> 10,
    "q327_textrank" -> 9,
    "q330_label_propagation" -> 10,
    "q337_louvain" -> 10,
    "q347_louvain_multilevel" -> 10)

  budgets.foreach { case (name, budget) =>
    test(s"$name stays within its job budget at sf0.001") {
      val counts = (1 to 2).map { run =>
        // drop frames persisted earlier: a cache hit would hide jobs
        spark.catalog.clearCache()
        try jobsIn(s"budget-$name-$run") {
          Registry.all(name).fn(spark, sfTiny).collect()
        } finally spark.catalog.clearCache()
      }
      info(s"jobs: ${counts.mkString(" and ")}")
      assert(counts.min <= budget,
        s"$name scheduled ${counts.mkString(" and ")} jobs, budget $budget")
    }
  }
}
