package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.window.WindowExec
import graft.queries.Registry

/** Suite-wide plan lint: NO registry query may push unbounded data through
  * a partition-less window (`WindowExec` with an empty partitionSpec = the
  * "Moving all data to a single partition" trap — the shape that turned
  * q172/q175/q133 into 100 TB hazards in round 6).
  *
  * A partition-less window is tolerated only when its input is provably
  * bounded, via one of:
  *  - STRUCTURAL: the window orders by the prefix-sum scan's `__pid`
  *    (offsets table, ≤ #partitions rows by construction), or its subtree
  *    contains a GlobalLimit / TakeOrderedAndProject (input ≤ the literal
  *    limit). Reverting a de-globalized query does NOT match either shape,
  *    so regressions go red here.
  *  - NAMED: an allowlist entry below, each carrying the cardinality bound
  *    that justifies it. Adding a query to this list is a review event —
  *    the bound must be an input-size-independent constant or a
  *    distinct-key set a scaladoc documents (with its own scale
  *    substitution where the key set can grow, e.g. q170/q171 → the
  *    sketch-binned q178/q179).
  */
class GlobalWindowLintSpec extends SparkSpec {

  /** query name → the named bound that makes its global window safe. */
  private val allow: Map[String, String] = Map(
    "q16_stride_sample" ->
      "serving-only exact stride, documented as such in Relational.scala; the 100 TB path is q16b (keyed stride, window-free)",
    "q29_align_wide" ->
      "ffill over the post-aggregation hourly grid: ≤ #hours rows (one row per grid hour), not events",
    "q42_adjacent_pattern" ->
      "24-hour rolling means over the pivoted hourly table: ≤ #hours rows",
    "q70_early_warning" ->
      "look-ahead incident window over the per-hour rollup: ≤ #hours rows",
    "q72_kiln_align" ->
      "ffill over the post-aggregation hourly grid: ≤ #hours rows (KilnSources.scala:163)",
    "q78_cadence" ->
      "lag over the synthetic hourly grid branch: ≤ #hours rows; the raw-event branch partitions by series",
    "q204_slo_burn" ->
      "trailing-6h burn window over the post-aggregation hourly grid: ≤ #hours rows",
    "q158_kaplan_meier" ->
      "ECDF over the DISTINCT event-duration table (durations quantize to a day/hour grid); scaladoc documents sketch-binning for continuous durations",
    "q170_ks_test" ->
      "ECDF over the distinct-value support; the continuous-measure scale path is q178_ks_binned (bins-sized by construction)",
    "q289_wasserstein_drift" ->
      "ECDF over the distinct-value support (the q170 bound); continuous-measure swap is pooled-quantile binning on bin midpoints (StatOps.wasserstein1 scaladoc)",
    "q171_mann_whitney" ->
      "midranks over the distinct-value table; the continuous-measure scale path is q179_mw_binned (bins-sized by construction)",
    "q274_kruskal_wallis" ->
      "midranks over the distinct-value table (the q171 bound, k-group form); continuous-measure swap is pooled-quantile binning",
    "q284_bh_fdr" ->
      "BH rank over the test-FAMILY table: one row per completed test by construction (ExperimentOps.bhFdr scale contract)",
    "q331_holm" ->
      "Holm rank + running max over the test-FAMILY table: one row per completed test by construction (ExperimentOps.holm scale contract)",
    "q297_msprt" ->
      "running max of lambda over the day-cumulative table: calendar-bounded (#days rows)",
    "q237_quality_auc" ->
      "midranks over the distinct ROUNDED-score table (dec6 score in [0,1] caps it at 10^6+1 rows independent of corpus size)",
    "q242_vocab_growth" ->
      "cumulative sum over the bucket table: <= buckets (10) rows by construction (CorpusOps.vocabGrowthCurve)",
    "q178_ks_binned" ->
      "support table capped at bins=64 rows by pooled-quantile construction",
    "q179_mw_binned" ->
      "rank table capped at bins=64 rows by pooled-quantile construction",
    "q332_logrank" ->
      ("from-the-right cumulative at-risk window over the per-duration " +
        "collapse: one row per DISTINCT duration, calendar-bounded " +
        "(durations arrive pre-rounded to days — #days rows, never subjects)"),
    // q339_classifier_eval left this list in r13: the three global rocAuc
    // midrank windows became ONE rocAucBy window partitioned by model
    "q340_cox_ph" ->
      ("per-Newton-step cumulative risk-set windows over the per-duration " +
        "collapse (the q332 bound: one row per DISTINCT duration, " +
        "calendar-bounded — durations arrive pre-rounded to days)")
  )

  private def boundedByConstruction(w: WindowExec): Boolean = {
    val ordersByPid = w.orderSpec.exists(_.references.exists(_.name == "__pid"))
    val aboveLimit = planNodes(w.child).exists {
      case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }
    ordersByPid || aboveLimit
  }

  /** query name → the bounded broadcast side justifying a nested-loop
    * join (the q203 class: a non-equi join whose broadcast side is NOT
    * provably small plans user-data × user-data comparisons). BNLJs whose
    * broadcast subtree contains a SCALAR Aggregate (grouping-free → exactly
    * one row; the scalar-crossjoin shape) are allowed structurally. A
    * GROUPED aggregate is NOT a bound — a groupBy over document ids is
    * corpus-sized — so those must carry a named allowlist entry (round 7's
    * any-Aggregate escape let them pass silently; q209 rode it). */
  /** The shared bound for the as-of queries that build the dense grid by
    * hand: they crossjoin the hourly timeline (scalar-aggregate-bounded)
    * with the broadcast DISTINCT series-key set — event_type, an
    * enum-sized domain vocabulary whose cardinality is fixed by the
    * schema, not by data volume. The grouped distinct LOOKS unbounded to
    * the lint (same plan shape as a groupBy over doc ids), hence named
    * entries rather than a structural escape. `TimeSeriesOps.alignToGrid`
    * broadcasts the timeline instead, which passes the structural escape,
    * so the queries built on TimeSeriesQ.aligned / WindowQ.series need no
    * entry. */
  private val seriesGridBound =
    "broadcast side is the distinct series-key set (event_type: enum-sized " +
      "domain vocabulary) crossjoined onto the hourly grid — " +
      "keys × hours, never event rows"

  private val seriesGridQueries = Seq(
    "q24_asof_join", "q24b_asof_native", "q163_asof_tolerance")

  private val allowBnlj: Map[String, String] =
    seriesGridQueries.map(_ -> seriesGridBound).toMap ++ Map(
    "q168_ab_test" ->
      "broadcast side is the per-arm conversion aggregate: exactly 2 rows (arms a/b)",
    "q58_ann_topk" -> "broadcast side is the single query vector (unique-id filter)",
    "q63_ann_multiprobe" -> "single query vector broadcast",
    "q64_ann_ivf" -> "single query vector broadcast",
    "q105_ann_pq" -> "single query vector broadcast",
    "q110_ann_ivfpq" -> "single query vector broadcast",
    "q133_hybrid_rrf" -> "single query vector broadcast (dense arm)",
    "q134_hard_negatives" -> "bounded anchor set broadcast (≤64 anchors, scaladoc'd)",
    "q147_triplet_mine" -> "bounded anchor set broadcast",
    "q183_matryoshka" -> "single query vector broadcast per dim budget (≤4)",
    "q184_sample_diversity" -> "pair table bounded by the sampling modulus (scaladoc'd)",
    "q220_knn_label_eval" ->
      "broadcast side is the vec_id % sampleMod query slice: pair table bounded by the modulus (the q184 contract)",
    "q298_shapley_attribution" -> ("crossjoin of two LITERAL local " +
      "relations: channels (|C| <= 16) x coalition masks (2^|C|) — " +
      "channel-vocabulary-sized by construction, never data volume"),
    "q300_burrows_delta" -> ("crossjoin of the source-domain totals table " +
      "with the top-k word head (GlobalLimit k=20 subtree): groups x k " +
      "cells, domain-sized by construction"),
    "q73_kiln_label" -> "interval side of the J3/J4 range join: maintenance-log-sized",
    "q75_training_matrix" -> "interval side of the range join: maintenance-log-sized",
    "q317_cliffs_delta" -> ("broadcast side is the event-type pair table " +
      "(k^2 rows of an enum-sized domain vocabulary) driving the " +
      "pair-explode membership join — never data volume"),
    "q319_hurst_rs" -> ("broadcast side is the LITERAL block-size table " +
      "(|blockSizes| = 4 rows by construction) crossjoined onto the " +
      "hourly collapse")
    // q342_dbscan's exact all-pairs BNLJ (SimilarityOps.exactCosinePairs,
    // the deliberate oracle-parity quadratic — scale swap is the LSH
    // q59/q213 machinery, scaladoc'd) sits BELOW dbscan's persist(), so
    // the lint's plan walk sees only the InMemoryRelation scan — a named
    // entry here would be flagged stale
  )

  /** The BNLJs in `df`'s plan whose broadcast side is NOT a provably-1-row
    * subtree. The only structural escape is a SCALAR aggregate
    * (groupingExpressions.isEmpty → exactly one output row) anywhere on the
    * broadcast side: the innermost such aggregate bounds everything above
    * it at 1 row. `nodeName.contains("Aggregate")` alone is NOT enough —
    * HashAggregateExec with grouping keys has unbounded cardinality. */
  private def riskyBnljs(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    planNodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastNestedLoopJoinExec => b }
      .filterNot { b =>
        val bc = if (b.buildSide.toString.contains("Right")) b.right else b.left
        planNodes(bc).exists {
          case a: BaseAggregateExec => a.groupingExpressions.isEmpty
          case _ => false
        }
      }
  }

  test("a broadcast GROUPED aggregate does not pass the structural escape") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
    // grouped aggregate (unbounded at scale) broadcast into a non-equi join
    val grouped = docs.groupBy("k")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
    val bad = docs.join(
      org.apache.spark.sql.functions.broadcast(grouped),
      docs("id") > grouped("n"), "inner")
    assert(riskyBnljs(bad).nonEmpty,
      "grouped-aggregate broadcast must be flagged as risky")
    // scalar aggregate (1 row by construction) stays structurally allowed
    val scalar = docs.agg(
      org.apache.spark.sql.functions.max("id").as("mx"))
    val ok = docs.join(
      org.apache.spark.sql.functions.broadcast(scalar),
      docs("id") > scalar("mx"), "inner")
    assert(riskyBnljs(ok).isEmpty,
      "scalar-aggregate broadcast must remain structurally allowed")
  }

  test("no registry query nested-loop-joins without a bounded broadcast side") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val unused = scala.collection.mutable.Set(allowBnlj.keySet.toSeq: _*)
    Registry.all.foreach { case (name, q) =>
      val df =
        try q.fn(spark, sfTiny)
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      val risky = riskyBnljs(df)
      if (risky.nonEmpty) {
        if (allowBnlj.contains(name)) unused -= name
        else offenders += s"$name (${risky.size} nested-loop join(s))"
      }
    }
    assert(offenders.isEmpty,
      s"queries with unjustified nested-loop joins:\n  ${offenders.mkString("\n  ")}")
    assert(unused.isEmpty, s"stale BNLJ allowlist entries: $unused")
  }

  /** query name → the size bound justifying each explicit `broadcast()`
    * hint that is NOT structurally bounded (the PageRank class that
    * motivated the partitioned-rank fallback: an explicit hint forces the
    * broadcast regardless of size, so every one must carry a bound).
    * Shares the series-grid family with the BNLJ allowlist — the hinted
    * side there IS the alignToGrid key-set broadcast — and inherits the
    * other allowBnlj bounds where the bounded side is the hinted one
    * (q184's diversity pair table never carries a hint, so it is
    * excluded). */
  private val allowHint: Map[String, String] =
    (allowBnlj - "q184_sample_diversity" - "q298_shapley_attribution"
      - "q300_burrows_delta" - "q317_cliffs_delta") ++ Map(
      "q03_join_agg" ->
        "broadcast sides are nation (25 rows) / region (5 rows): constant-size dims",
      "q199_rollup_revenue" ->
        "broadcast sides are nation (25 rows) / region (5 rows): constant-size dims",
      "q223_local_volume" -> ("broadcast sides are nation/region constant dims; " +
        "the SF-proportional supplier deliberately carries NO hint (AQE decides)"),
      "q256_returned_items" ->
        "broadcast side is nation (25 rows): constant-size dim",
      "q269_nation_trade_volume" -> ("broadcast sides are the two nation " +
        "lookups (25 rows each, constant dims); SF-proportional supplier " +
        "carries no hint (AQE decides)"),
      "q293_market_share" -> ("broadcast sides are nation (25) / region (5) " +
        "constant dims; SF-proportional part/customer/supplier carry no " +
        "hint (AQE decides)"),
      "q294_nation_profit" ->
        "broadcast side is nation (25 rows): constant-size dim",
      "q59_ann_lsh" -> "single query vector broadcast (unique-id filter)",
      "q80_contamination" -> ("broadcast side is the DISTINCT eval-benchmark " +
        "n-gram hash set: eval-suite-sized, not corpus-scaled"),
      "q92_curation_funnel" -> ("broadcast side is the DISTINCT eval-benchmark " +
        "n-gram hash set: eval-suite-sized, not corpus-scaled"),
      "q343_curation_funnel_v2" -> ("broadcast side is the DISTINCT " +
        "eval-benchmark n-gram hash set (the q92 contamination stage): " +
        "eval-suite-sized, not corpus-scaled"),
      "q91_centroid_outlier" ->
        "broadcast side is the per-label centroid table: label-domain-sized",
      "q177_local_peaks" -> ("broadcast side is the per-series global mean/std " +
        "aggregate: enum-sized event_type key set"),
      "q262_tukey_outliers" ->
        "broadcast side is the per-series Tukey fence table: series-key-domain-sized",
      "q264_norm_outliers" ->
        "broadcast side is the per-series Tukey fence table: series-key-domain-sized",
      "q263_revenue_cohorts" -> ("broadcast side is the week-0 revenue row per " +
        "cohort week: calendar-bounded (#weeks)"),
      "q333_hbos" -> ("broadcast sides are the per-feature span table " +
        "(one row per MELTED feature name, |features| = 2) and the " +
        "histogram (features x nBins rows) — both bin-bounded constants"),
      "q325_logistic_returns" -> ("broadcast sides are the per-group Newton " +
        "β frames: one row per group key (asset domain), feature-count-sized " +
        "payload — one hint per unrolled Newton step"),
      // q335_ipw_ate left this list in r13: preMaterialized β-solve no
      // longer checkpoint-truncates the hint children, so each β hint's
      // subtree now visibly nests the 1-row threshold aggregate and
      // passes the structural escape on its own
      //
      "q338_quality_classifier" -> ("broadcast sides are the per-source " +
        "Newton β frames: one row per corpus source (|sources| ≤ 10), " +
        "feature-count-sized payload — one hint per unrolled Newton step"),
      "q339_classifier_eval" -> ("broadcast sides are the per-source Newton " +
        "β frames (the q338 solver replayed for the AUC ablation): one row " +
        "per corpus source, feature-count-sized payload"),
      "q317_cliffs_delta" -> ("broadcast side is the series-pair table: " +
        "k²/2 rows over the event-type key domain (enum-sized, the q177 " +
        "bound) — the OR-disjunction expansion is a nested-loop join " +
        "either way, and unhinted the planner broadcast the ROW-COUNT " +
        "side and streamed the pair table (r13: the n×(k−1) blow-up ran " +
        "in 2 tasks)")
      // q337_louvain and q347_louvain_multilevel left this list with the
      // GraphOps driver-local regime: at gate scale their result is a
      // local relation, so their plans carry no broadcast hint
    )

  /** Explicit broadcast() hints in the ANALYZED plan whose hinted subtree
    * is not provably bounded. Structural escapes: a grouping-free
    * Aggregate below the hint (exactly one row — the scalar-crossjoin
    * shape), or a `__pid` output column (the orderedPrefixSum offsets
    * table: ≤ #partitions rows by construction, the same bound the
    * global-window lint recognizes). Optimized plans fold hints into the
    * join node, so the analyzed tree is where a user-authored
    * `broadcast(df)` is still visible. */
  private def riskyHints(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, ResolvedHint, UnresolvedHint}
    def nodes(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.children.flatMap(nodes)
    nodes(df.queryExecution.analyzed)
      .collect {
        case h: ResolvedHint
          if h.hints.strategy.exists(_.toString.toLowerCase.contains("broadcast")) => h.child
        case h: UnresolvedHint
          if h.name.toUpperCase == "BROADCAST" => h
      }
      .filterNot(c => c.output.exists(_.name == "__pid"))
      .filterNot(c => nodes(c).exists {
        case a: Aggregate => a.groupingExpressions.isEmpty
        case _ => false
      })
      .map(_.nodeName)
  }

  test("no registry query force-broadcasts an unbounded DataFrame") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val unused = scala.collection.mutable.Set(allowHint.keySet.toSeq: _*)
    Registry.all.foreach { case (name, q) =>
      val df =
        try q.fn(spark, sfTiny)
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      val risky = riskyHints(df)
      if (risky.nonEmpty) {
        if (allowHint.contains(name)) unused -= name
        else offenders += s"$name (${risky.size} unbounded broadcast hint(s))"
      }
    }
    assert(offenders.isEmpty,
      s"queries force-broadcasting without a named bound:\n  ${offenders.mkString("\n  ")}")
    assert(unused.isEmpty, s"stale broadcast-hint allowlist entries: $unused")
  }

  test("no registry query windows unbounded data without a partition key") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val unusedAllow = scala.collection.mutable.Set(allow.keySet.toSeq: _*)
    Registry.all.foreach { case (name, q) =>
      val df =
        try q.fn(spark, sfTiny)
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      val global = planNodes(df.queryExecution.executedPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(boundedByConstruction)
      if (global.nonEmpty) {
        if (allow.contains(name)) unusedAllow -= name
        else offenders += s"$name (${global.size} partition-less window(s))"
      }
    }
    assert(offenders.isEmpty,
      s"queries with unjustified partition-less windows:\n  ${offenders.mkString("\n  ")}")
    assert(unusedAllow.isEmpty,
      s"stale allowlist entries (no longer have global windows — remove): $unusedAllow")
  }
}
