package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewOps
import graft.sources.Tables

/** The scale techniques the README promises, with plan-level evidence:
  * salted aggregation equals the direct aggregate, bucketed tables join
  * without a shuffle, observe() telemetry free-rides the pass, a date-
  * partitioned layout prunes at the scan (statically AND dynamically via
  * DPP), AQE splits skewed join partitions, and the binned range join
  * matches the broadcast BNLJ it replaces at large-large scale. */
class ScaleTechniquesSpec extends SparkSpec {

  test("salted two-phase aggregation is exact vs direct groupBy") {
    val li = Tables.lineitem(spark, sfTiny)
    val salted = SkewOps.saltedAgg(li, Seq("l_returnflag"), nSalts = 16, Seq(
      SkewOps.sumOf("l_quantity", "sum_qty"),
      SkewOps.countAll("n"),
      SkewOps.minOf("l_extendedprice", "min_price"),
      SkewOps.maxOf("l_extendedprice", "max_price")))
    val direct = li.groupBy("l_returnflag").agg(
      sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
      min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))
    val diff = salted.join(direct.withColumnRenamed("sum_qty", "d_sum")
        .withColumnRenamed("n", "d_n").withColumnRenamed("min_price", "d_min")
        .withColumnRenamed("max_price", "d_max"), "l_returnflag")
      .filter(col("sum_qty") =!= col("d_sum") || col("n") =!= col("d_n") ||
        col("min_price") =!= col("d_min") || col("max_price") =!= col("d_max"))
    assert(diff.count() == 0)
    assert(salted.count() == direct.count())
  }

  test("salted join is exact vs the direct equi-join on a skewed key") {
    import spark.implicits._
    // hot key 7 owns ~99% of the big side — the manual complement of the
    // AQE skew-split test below, for when the medium side can't broadcast
    val big = spark.range(0, 20000).select(
      when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id") % 50).as("k"),
      col("id").as("v"))
    val small = spark.range(0, 50).select(col("id").as("k"), (col("id") * 3).as("w"))
    val salted = SkewOps.saltedJoin(big, small, Seq("k"), nSalts = 8)
    val direct = big.join(small, Seq("k"))
    assert(salted.count() == direct.count())
    val sAgg = salted.groupBy("k").agg(sum("v").as("sv"), sum("w").as("sw"))
    val dAgg = direct.groupBy("k").agg(sum("v").as("sv"), sum("w").as("sw"))
    assert(sAgg.exceptAll(dAgg).isEmpty && dAgg.exceptAll(sAgg).isEmpty,
      "salted join must be exactly the direct join")
    // the small side replicated x8: its scan feeds an explode, and the join
    // keys on (k, salt) so the hot key spreads over 8 reducers
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt") || plan.contains("Generate"),
      s"salt column must reach the join:\n${plan.take(800)}")
  }

  test("observe() metrics ride the cleaning pass with no second job") {
    // data-quality telemetry at 100 TB must free-ride on the pass itself —
    // a separate count() pass re-reads the corpus. Dataset.observe attaches
    // accumulator-backed metrics to the existing scan.
    val docs = Tables.documents(spark, sfTiny)
    val scored = docs
      .withColumn("t", graft.operators.TextOps.tokens(col("text")))
      .withColumn("n_tokens", size(col("t")))
    val observed = scored.observe("clean_metrics",
      count(lit(1)).as("n_scanned"),
      sum((col("n_tokens") >= 20).cast("long")).as("n_kept"))
    val kept = observed.filter(col("n_tokens") >= 20).select("doc_id")
    // the ONE action; metrics piggyback on it. (collect, not count —
    // Dataset.count builds its own QueryExecution, so the metrics of THIS
    // plan would never populate)
    val nKept = kept.collect().length.toLong
    val m = kept.queryExecution.observedMetrics("clean_metrics")
    assert(m.getAs[Long]("n_scanned") == docs.count())
    assert(m.getAs[Long]("n_kept") == nKept)
  }

  test("bucketed tables sort-merge join without a shuffle exchange") {
    // DROP TABLE clears only the in-memory catalog; an orphaned location
    // from a previous JVM blocks saveAsTable — remove it on disk too
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    Tables.lineitem(spark, sfTiny).write
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sfTiny).write
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n${plan.take(800)}")
    assert(joined.count() > 0)
  }

  test("date-partitioned parquet layout prunes partitions at the scan") {
    // the standard 100 TB time-series layout: directory-partition by day so
    // a time-range query plans PartitionFilters and never opens the other
    // days' files — evidence below is both plan text AND the file count
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sfTiny)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val all = spark.read.parquet(dir)
    val days = all.select("day").distinct().count()
    assert(days > 1, "fixture must span multiple days")
    // the partition directory values read back as DATEs (partition-column
    // type inference) — stringify for a type-agnostic literal
    val d0 = all.agg(min("day")).head.get(0).toString
    val oneDay = all.filter(col("day") === d0)
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("day"),
      s"day filter must reach the scan as a partition filter:\n${plan.take(600)}")
    // the scan's partition list after pruning — 1 directory, not all of
    // them (Dataset.inputFiles would lie here: it lists the relation's
    // whole file index, pre-pruning)
    def prunedDirs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.get
    assert(prunedDirs(oneDay) == 1, "one-day filter must read exactly one partition dir")
    assert(prunedDirs(all) == days.toInt, "unfiltered scan reads every partition dir")
    assert(oneDay.count() > 0)
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // the runtime half of the skew story (SkewOps salting is the manual
    // half): one hot key owns ~99% of the fact side; with thresholds
    // scaled to fixture size, AQE's OptimizeSkewedJoin must split the hot
    // partition instead of letting one task drag the stage. AQE is what
    // is under test, so it is on here whatever the session profile says
    withAqe(true) {
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(k => k -> spark.conf.getOption(k)).toMap
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        val fact = spark.range(0, 200000).select(
          when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
        val dim = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
        val j = fact.join(dim, "k")
        // execute THIS dataset's plan (count() builds its own QueryExecution,
        // whose finalized AQE plan we could never see — observe() test note)
        assert(j.collect().length > 0)
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("skew=true"),
          s"AQE must mark the skewed join side:\n${plan.take(900)}")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan at runtime") {
    // DPP is what keeps a star join from scanning every partition when the
    // filter sits on the DIMENSION: the fact side's partition filter is a
    // runtime subquery over the filtered dim keys
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.events(spark, sfTiny)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim's filter column must be INDEPENDENT data, not a function of
    // the join key — otherwise constraint propagation folds it into a
    // static partition filter and no runtime pruning is even needed
    // (Catalyst did exactly that to this test's first fixture)
    import spark.implicits._
    val days = fact.select(col("day").cast("string")).distinct()
      .as[String].collect().sorted
    // the dim must be a real source, not a LocalRelation — Catalyst
    // evaluates filters over local tables at plan time, leaving no filter
    // node for the pruning rule to reuse
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    days.zipWithIndex
      .map { case (d, i) => (d, if (i == 0) "audit" else "normal") }.toSeq
      .toDF("day", "kind").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast join + DPP: the classic star shape
      val j = fact.join(broadcast(dim.filter(col("kind") === "audit")), "day")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"fact scan must carry a runtime pruning subquery:\n${plan.take(900)}")
      assert(j.collect().length > 0)
    } finally saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
  }

  test("binned range join equals the broadcast BNLJ interval join") {
    import graft.operators.JoinOps
    val iv = Tables.orders(spark, sfTiny).filter(col("o_orderkey") % 100 === 0)
      .select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(spark, sfTiny)
      .select("l_orderkey", "l_linenumber", "l_shipdate")
    val lo = col("o_orderdate")
    val hi = col("o_orderdate") + expr("INTERVAL 30 DAYS")
    val bnlj = JoinOps.pointInInterval(li, iv, col("l_shipdate"), lo, hi, "inner")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("l_orderkey", "l_linenumber", "o_orderkey")
    // bins shorter than, near, and longer than the 30-day interval length
    for (binSec <- Seq(7L * 86400, 30L * 86400, 90L * 86400)) {
      val binned = JoinOps.binnedRangeJoin(li, iv, col("l_shipdate"), lo, hi, binSec)
      assert(key(binned).exceptAll(key(bnlj)).isEmpty &&
        key(bnlj).exceptAll(key(binned)).isEmpty,
        s"binned($binSec) != BNLJ")
    }
    assert(bnlj.count() > 0)
  }

  test("binned range join: sub-bin intervals, exclusive hi, empty intervals") {
    import graft.operators.JoinOps
    import spark.implicits._
    val facts = Seq(
      (1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:30"),
      (3, "2024-01-01 00:01:00"), (4, "2024-01-01 00:02:00"))
      .toDF("fid", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val ivs = Seq(
      // sub-bin interval inside one minute-bin: [00:00:10, 00:00:40)
      (10, "2024-01-01 00:00:10", "2024-01-01 00:00:40"),
      // hi exactly on a fact ts: exclusive, must NOT match fid=3
      (20, "2024-01-01 00:00:00", "2024-01-01 00:01:00"),
      // empty interval (hi == lo): no matches, no explode blowup
      (30, "2024-01-01 00:02:00", "2024-01-01 00:02:00"))
      .toDF("iid", "lo", "hi")
      .withColumn("lo", col("lo").cast("timestamp"))
      .withColumn("hi", col("hi").cast("timestamp"))
    val out = JoinOps.binnedRangeJoin(facts, ivs, col("ts"), col("lo"), col("hi"), 60)
      .select("fid", "iid").as[(Int, Int)].collect().toSet
    assert(out == Set((2, 10), (1, 20), (2, 20)))
    // pre-1970 timestamps: negative unix micros need FLOOR, not truncation
    // — a truncated bin id would shift the whole grid by one for the
    // negative half and miss boundary matches
    val oldFacts = Seq((1, "1969-12-31 23:59:30"), (2, "1969-12-31 23:58:00"))
      .toDF("fid", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val oldIvs = Seq((10, "1969-12-31 23:59:00", "1970-01-01 00:00:00"))
      .toDF("iid", "lo", "hi")
      .withColumn("lo", col("lo").cast("timestamp"))
      .withColumn("hi", col("hi").cast("timestamp"))
    val oldOut = JoinOps.binnedRangeJoin(oldFacts, oldIvs, col("ts"), col("lo"), col("hi"), 60)
      .select("fid", "iid").as[(Int, Int)].collect().toSet
    assert(oldOut == Set((1, 10)))
  }

  test("corpus-op plan contracts: text never joins, small sides broadcast") {
    import graft.operators.CorpusOps
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfTiny)
    // snapshotDiff: the full-outer join's inputs must be (id, fingerprint)
    // projections — the text column is consumed by xxhash64 BELOW the join,
    // never carried through it
    val diffPlan = CorpusOps.snapshotDiff(docs, docs, "doc_id", "text")
      .queryExecution.optimizedPlan
    val joinNode = diffPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.head
    val joinCols = (joinNode.left.output ++ joinNode.right.output).map(_.name)
    assert(!joinCols.contains("text"),
      s"snapshotDiff must join fingerprints, not text; join inputs: $joinCols")
    // dsirWeights: the score pass must attach bucket ratios as a LITERAL
    // array lookup (bounded fit metadata, like the IVF centroids) — the
    // only join in the whole plan is the final left join of scores back
    // onto ids; the position/bucket stream never joins the model
    val dsirPlan = CorpusOps.dsirWeights(docs, "doc_id", "text",
        isTarget = col("lang") === "en")
      .queryExecution.optimizedPlan
    val dsirJoins = dsirPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(dsirJoins.size == 1,
      s"dsir must have exactly the id-reattach join, got ${dsirJoins.size}")
    assert(dsirPlan.toString.contains("element_at"),
      "bucket ratios must ride as a literal array lookup")
  }

  test("pcaProject is a pure linear scan: no Exchange, no join in the plan") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, sfTiny)
    val (mean, _, comps, _) = SimilarityOps.fitPca(emb, "vec_id", "embedding", 4)
    val plan = SimilarityOps.pcaProject(emb, "vec_id", "embedding", mean, comps)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    assert(exchanges.isEmpty,
      s"projection must not shuffle — basis travels as literals:\n${plan.toString.take(1500)}")
  }

  test("jsDivergence joins token distributions, never document text") {
    import graft.operators.CorpusOps
    val docs = Tables.documents(spark, sfTiny)
    val plan = CorpusOps.jsDivergence(
        docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
        "text", graft.queries.Q.dec6)
      .queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val cols = (j.left.output ++ j.right.output).map(_.name)
      assert(!cols.contains("text"),
        s"distribution join must carry (token, p), not text: $cols")
    }
  }

  test("hardNegatives broadcasts the bounded anchor set; corpus streams once") {
    import graft.operators.SimilarityOps
    val plan = SimilarityOps.hardNegatives(Tables.embeddings(spark, sfTiny),
        "vec_id", "embedding", "label", queryIds = Seq(0L, 7L), k = 3,
        scoreOut = graft.queries.Q.dec6)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"anchor set must broadcast:\n${plan.take(1500)}")
    // exactly one scan of the embeddings table per side pair — the corpus
    // is not re-read per anchor
    assert("Scan parquet".r.findAllIn(plan).size <= 2,
      s"corpus must stream past the broadcast once:\n${plan.take(1500)}")
  }

  test("seasonalProfile: the window's exchange is reused by the final aggregate") {
    import graft.operators.EventOps
    // plan STRING, not collect: AQE wraps the tree in AdaptiveSparkPlanExec,
    // which TreeNode.collect does not descend into
    val plan = EventOps.seasonalProfile(Tables.events(spark, sfTiny),
        "event_type", "ts", "value", zCut = 3.0, scoreOut = graft.queries.Q.dec6)
      .queryExecution.executedPlan.toString
    val nEx = "Exchange ".r.findAllIn(plan).size
    assert(nEx == 1,
      s"window partition key == groupBy key must share ONE shuffle, got $nEx:\n${plan.take(1500)}")
  }

  test("mergeRollup joins rollup-sized tables only — raw events feed two aggregates, no self-join") {
    import graft.operators.EventOps
    val ev = Tables.events(spark, sfTiny)
    val cut = org.apache.spark.sql.functions.lit("2024-01-02").cast("timestamp")
    val merged = EventOps.mergeRollup(
      EventOps.rollupOf(ev.filter(col("ts") < cut), Seq("event_type"), "value"),
      EventOps.rollupOf(ev.filter(col("ts") >= cut), Seq("event_type"), "value"),
      Seq("event_type"))
    val joins = merged.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 1, s"exactly the rollup merge join, got ${joins.size}")
    // both join inputs are AGGREGATES (rollup-sized), never raw scans
    joins.head.children.foreach { side =>
      val aggs = side.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggs.nonEmpty, s"join side must be a rollup aggregate:\n$side")
    }
  }

  test("bigramSurprisal never hints a vocab-scale broadcast; joins key on hashes") {
    import graft.operators.CorpusOps
    import graft.sources.Tables
    // At test scale Catalyst's size stats would legitimately auto-broadcast
    // the tiny count tables, masking a forced hint. Disabling the threshold
    // leaves ONLY hint-driven broadcasts in the plan — the contract is that
    // the unigram/bigram sides carry no such hint (at web scale the vocab
    // is GBs), while the 1-row vocab-size scalar still broadcasts.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val plan = CorpusOps.bigramSurprisal(
          Tables.documents(spark, sfTiny), "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"count-table joins must be shuffle joins, not hinted broadcasts:\n${plan.take(2000)}")
      assert(plan.contains("BroadcastNestedLoopJoin"),
        "the 1-row vocab-size scalar should still ride a hinted broadcast")
      assert(plan.contains("xxhash64"),
        "join keys must be 8-byte xxhash64 words, not string pairs")
    } finally spark.conf.set(key, prev)
  }

  test("r7 plan contracts: q133 lexical TakeOrdered, q194 no Expand") {
    import graft.queries.Registry
    // q133's lexical arm must bound the corpus with TakeOrderedAndProject
    // BEFORE any rank window (the round-6 finding: a corpus-wide
    // row_number window single-partitions the scored stream)
    val rrf = Registry.all("q133_hybrid_rrf").fn(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(rrf.contains("TakeOrderedAndProject"),
      s"q133 must TakeOrdered its top-100 candidates:\n${rrf.take(1500)}")
    // q194's profiler must NOT plan an Expand: N exact countDistincts in
    // one aggregate expand every row x(N+1) — measured 26.7 s vs 4.4 s at
    // sf0.1; the per-column pruned aggregates keep each distinct on the
    // ordinary two-phase path
    val prof = Registry.all("q194_profile").fn(spark, sfTiny)
      .queryExecution.executedPlan.toString
    assert(!prof.contains("Expand"),
      s"profiler must stay expand-free (per-column aggregates):\n${prof.take(1500)}")
  }
}
