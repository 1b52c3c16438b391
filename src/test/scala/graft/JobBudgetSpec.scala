package graft

import graft.queries.Registry

/** Scheduler-job budgets of the iterative graph family and of q153's
  * fused ANN-recall loop at sf0.001: the supersteps of these queries run
  * while the DataFrame is built, so their cost is dominated by job
  * count. A query's count is the jobs one
  * build + collect schedules (construction and drain), the smaller of two
  * such runs: the first may infer table schemas, AQE's stage submission
  * occasionally adds or saves one job (seen on q233 and q327), and a
  * change that really adds a job adds it to both runs.
  *
  * A budget is the highest count measured over the runs of the code it
  * was pinned on. `Tables` resolves each table once per session, so the
  * second run infers no schema, and the graph family takes its
  * driver-local regime: what remains is the edge pipeline's broadcast
  * and shuffle jobs, the one collect that picks the regime, and the
  * drain. Budgets may only TIGHTEN: lower one when a
  * change saves jobs, never raise one to make a change pass. Test names
  * leave the budget out, so tightening one keeps its test's name. */
class JobBudgetSpec extends SparkSpec {

  private val budgets = Seq(
    "q153_ann_recall" -> 6,
    "q233_trade_pagerank" -> 7,
    "q287_bfs_reach" -> 4,
    "q306_hits" -> 3,
    "q323_kcore" -> 4,
    "q327_textrank" -> 3,
    "q330_label_propagation" -> 4,
    "q337_louvain" -> 4,
    "q347_louvain_multilevel" -> 4)

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
