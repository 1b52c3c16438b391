package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.CorpusOps

/** Round-6 curation operators: char entropy, quality-ranked cluster
  * representatives, the distributed prefix sum under token-budget sharding,
  * temperature mixture weights, and the deterministic k-per-group sample.
  * The prefix-sum test pins the SCALE contract: the corpus-sized frame is
  * never pushed through a partition-less global window. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("charEntropy: exact values on known distributions") {
    val docs = Seq(
      (1L, "aabb"),    // two symbols, uniform -> 1 bit
      (2L, "abcd"),    // four symbols, uniform -> 2 bits
      (3L, "aaaa"),    // one symbol -> 0 bits
      (4L, ""),        // empty -> (0, 0.0)
      (5L, "aaab")     // 3/4, 1/4 -> 2 - 0.75*log2(3) ~ 0.8112781
    ).toDF("doc_id", "text")
    val got = CorpusOps.charEntropy(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got(0) == ((1L, 4L, 1.0)))
    assert(got(1) == ((2L, 4L, 2.0)))
    assert(got(2) == ((3L, 4L, 0.0)))
    assert(got(3) == ((4L, 0L, 0.0)))
    assert(math.abs(got(4)._3 - (2.0 - 0.75 * math.log(3.0) / math.log(2.0))) < 1e-12)
  }

  test("charEntropy is shuffle-free (no Exchange in the plan)") {
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    val e = CorpusOps.charEntropy(docs, "doc_id", "text")
    assert(e.collect().length == 1)
    val nodes = planNodes(e.queryExecution.executedPlan)
    assert(!nodes.exists(_.nodeName.contains("Exchange")),
      s"row-local entropy must not shuffle:\n${nodes.head.toString.take(600)}")
  }

  test("orderedPrefixSum equals the naive global window, ties and all") {
    // duplicate order-key VALUES with a unique tiebreaker, spread over
    // many input partitions — the shape that breaks naive implementations
    val df = spark.range(0, 10000).repartition(13)
      .select(col("id"), (col("id") % 7).as("grp"), (col("id") % 100 + 1).as("v"))
    val got = CorpusOps.orderedPrefixSum(df,
        Seq(col("grp"), col("id")), col("v"), "cum", partitions = 8)
      .select("id", "cum")
    val naive = df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(col("grp"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum")
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty,
      "distributed prefix sum must match the single-partition window exactly")
  }

  test("orderedPrefixSum plan contract: no partition-less window over the data") {
    val df = spark.range(0, 10000).repartition(13)
      .select(col("id"), (col("id") + 1).as("v"))
    val cum = CorpusOps.orderedPrefixSum(df, Seq(col("id")), col("v"), "cum",
      partitions = 8)
    assert(cum.collect().length == 10000)
    // the data-side running sum is computed in the per-partition scan
    // (mapPartitionsWithIndex over the frozen range-shuffled RDD) — the
    // only window anywhere may be the one over the bounded per-partition
    // offsets aggregate, never over the raw data
    val windows = planNodes(cum.queryExecution.executedPlan).collect { case w: WindowExec => w }
    windows.foreach { w =>
      val overAggregate = planNodes(w.child)
        .exists(_.nodeName.contains("Aggregate"))
      assert(overAggregate,
        s"any window must sit above the offsets aggregate:\n$w")
    }
  }

  test("orderedPrefixSum: ranks agree across differently-pruned consumer plans") {
    // regression: with spark_partition_id-based pids, the local-sum and
    // offset branches could plan NON-identical range exchanges (column
    // pruning defeats ReuseExchange), sample different partitioner
    // boundaries, and silently shift ranks near partition edges depending
    // on which consumer plan ran. The frozen-RDD implementation must give
    // the same rank to every row no matter how the result is consumed.
    val df = spark.range(0, 5000).repartition(17)
      .select(col("id"), (col("id") % 7).cast("string").as("g"),
        (col("id") * 37 % 101).as("k"), lit(1L).as("one"))
    def ranked = CorpusOps.orderedPrefixSum(df, Seq(col("k").asc, col("id").asc),
      lit(1L), "rn", partitions = 8, groupCols = Seq("g"))
    // consumer 1: full row dump; consumer 2: heavily pruned aggregate
    val full = ranked.select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = ranked.groupBy("g").agg(sum(col("rn")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // per-group rank sums must equal n(n+1)/2 — ranks dense 1..n per group
    agg.foreach { case (g, (s, n)) =>
      assert(s == n * (n + 1) / 2, s"group $g ranks not dense 1..$n (sum $s)")
    }
    val expected = full.values.toSeq
    assert(expected.size == 5000)
    // and the dump itself is dense per group: ranks 1..n within each g
    val byG = ranked.select("g", "rn").collect().groupBy(_.getString(0))
    byG.foreach { case (g, rows) =>
      val rns = rows.map(_.getLong(1)).sorted
      assert(rns.sameElements(1L to rns.length), s"group $g ranks not 1..${rns.length}")
    }
  }

  test("tokenShards: budget boundary is inclusive; shards split on first-token position") {
    // quality desc, id asc order: d1(q .9, 4000), d2(q .8, 5000),
    // d3(q .7, 1000), d4(q .6, 2000) with budget 10000, shard 5000:
    // cums 4000, 9000, 10000, 12000 -> d3 exactly hits the budget (kept),
    // d4 overflows (dropped); shards floor((cum-tok)/5000) = 0, 0, 1
    val docs = Seq(
      (1L, 4000L, 0.9), (2L, 5000L, 0.8), (3L, 1000L, 0.7), (4L, 2000L, 0.6)
    ).toDF("doc_id", "n_toks", "q")
    val got = CorpusOps.tokenShards(docs, "doc_id", col("n_toks"), col("q"),
        budget = 10000L, shardTokens = 5000L)
      .select("doc_id", "cum_tokens", "selected", "shard")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 4000L, 1, 0L), (2L, 9000L, 1, 0L), (3L, 10000L, 1, 1L),
      (4L, 12000L, 0, -1L)))
  }

  test("bestOfCluster keeps the quality argmax, ties toward the smaller id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster")
    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.1))
      .toDF("doc_id", "quality")
    val keep = CorpusOps.bestOfCluster(labels, quality, "doc_id", "quality")
      .filter(col("keep") === 1)
      .select("doc_id").as[Long].collect().sorted
    // cluster 1: 2 and 3 tie at 0.9 -> keep 2; cluster 4: tie at 0.1 -> keep 4
    assert(keep.toSeq == Seq(2L, 4L))
  }

  test("temperatureMix: alpha=1 is the natural mix; alpha<1 compresses shares") {
    val docs = (Seq.fill(90)("web") ++ Seq.fill(10)("books"))
      .zipWithIndex.map { case (src, i) => (i.toLong, src) }
      .toDF("doc_id", "source")
    val nat = CorpusOps.temperatureMix(docs, Seq("source"), alpha = 1.0)
      .select("source", "multiplier").as[(String, Double)].collect().toMap
    assert(nat.values.forall(m => math.abs(m - 1.0) < 1e-12),
      "alpha=1 must leave every stratum at its natural rate")
    val t = CorpusOps.temperatureMix(docs, Seq("source"), alpha = 0.5)
      .select("source", "p_temp").as[(String, Double)].collect().toMap
    val z = math.sqrt(90.0) + math.sqrt(10.0)
    assert(math.abs(t("web") - math.sqrt(90.0) / z) < 1e-12)
    assert(math.abs(t("books") - math.sqrt(10.0) / z) < 1e-12)
    assert(t("web") < 0.9 && t("books") > 0.1,
      "temperature must flatten the head and boost the tail")
  }

  test("groupSample: exact per-group counts, invariant under repartitioning") {
    val docs = spark.range(0, 1000)
      .select(col("id").as("doc_id"), (col("id") % 3).cast("string").as("grp"))
    val a = CorpusOps.groupSample(docs, "doc_id", Seq("grp"), k = 7)
    val counts = a.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 7L))
    val b = CorpusOps.groupSample(docs.repartition(17), "doc_id", Seq("grp"), k = 7)
    assert(a.select("doc_id").except(b.select("doc_id")).isEmpty,
      "the sample must be a pure function of ids, not of partitioning")
  }

  test("leakageSafeSplit: same cluster => same split; singletons match assignSplit") {
    import spark.implicits._
    // clusters: {1,2,9} share cluster 1; {3} and {4} are singletons
    val clusters = Seq((1L, 1L), (2L, 1L), (9L, 1L), (3L, 3L), (4L, 4L))
      .toDF("id", "cluster")
    val split = CorpusOps.leakageSafeSplit(clusters, "doc_id", 2, 2)
    val byCluster = split.groupBy("cluster")
      .agg(countDistinct("split").as("n_splits")).as[(Long, Long)].collect()
    assert(byCluster.forall(_._2 == 1L),
      s"near-dup cluster straddles splits: ${byCluster.mkString(",")}")
    // a singleton's split must equal the plain per-id assignment
    val docs = Seq(3L, 4L).toDF("doc_id")
    val plain = CorpusOps.assignSplit(docs, "doc_id", 2, 2)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val safe = split.filter(col("doc_id").isin(3L, 4L))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(safe == plain, s"singleton split drifted: $safe vs $plain")
  }

  test("weightedSample: zero-weight rows excluded; heavier rows dominate inclusion") {
    import spark.implicits._
    val docs = (0L until 400L).map(i => (i, if (i < 200) 1.0 else 100.0))
      .toDF("doc_id", "w0")
    val s = CorpusOps.weightedSample(docs, "doc_id", col("w0"), k = 50,
      scoreOut = graft.queries.Q.dec6)
    val picked = s.select("doc_id").as[Long].collect()
    assert(picked.length == 50)
    val heavy = picked.count(_ >= 200)
    // weight ratio 100:1 — the heavy half must dominate the sample
    assert(heavy > 40, s"expected heavy-weight dominance, got $heavy/50")
    // zero/negative weights can never be sampled
    val z = CorpusOps.weightedSample(
      Seq((1L, 0.0), (2L, -1.0), (3L, 5.0)).toDF("doc_id", "w0"),
      "doc_id", col("w0"), k = 3, scoreOut = graft.queries.Q.dec6)
    assert(z.select("doc_id").as[Long].collect().toSeq == Seq(3L))
  }

  test("mixtureSchedule: every prefix tracks the temperature proportions") {
    import spark.implicits._
    // two strata, 900 vs 100 docs; α=0.5 → p_temp = 3/4 vs 1/4
    val docs = (0L until 1000L).map(i => (i, if (i < 900) "big" else "small"))
      .toDF("doc_id", "lang")
    val sched = CorpusOps.mixtureSchedule(docs, "doc_id", "lang", alpha = 0.5,
        scoreOut = graft.queries.Q.dec6)
      .orderBy("sched_key", "doc_id")
      .select("lang").as[String].collect()
    // until the small stratum exhausts (first ~400 positions), every
    // prefix must hold ≈25% small-stratum docs
    for (k <- Seq(40, 100, 200, 396)) {
      val frac = sched.take(k).count(_ == "small").toDouble / k
      assert(math.abs(frac - 0.25) < 0.03,
        s"prefix $k: small fraction $frac, want ~0.25")
    }
    // exhaustion is recorded, not hidden: all 100 small docs appear
    assert(sched.count(_ == "small") == 100)
  }

  test("ccnetBuckets: tertiles are per-language and ordered by LM score") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val b = CorpusOps.ccnetBuckets(docs, "doc_id", "lang", "text",
      graft.queries.Q.dec6)
    // within every language, min(head score) >= max(tail score)
    val agg = b.groupBy("lang", "ccnet_bucket")
      .agg(min("mean_logprob").as("lo"), max("mean_logprob").as("hi"))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    agg.keys.map(_._1).toSeq.distinct.foreach { lang =>
      for (h <- agg.get((lang, "head")); t <- agg.get((lang, "tail")))
        assert(h._1 >= t._2, s"$lang: head min ${h._1} < tail max ${t._2}")
    }
    // tertile sizes within a language differ by at most 1 (ntile contract)
    val sizes = b.groupBy("lang", "tertile").count().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)))
    sizes.foreach { case (lang, ns) =>
      assert(ns.max - ns.min <= 1, s"$lang tertile sizes $ns")
    }
  }

  test("targetMixtureSample: the scarcest stratum binds the water line") {
    // 100 a / 10 b with targets 0.8/0.2 → T = min(125, 50) = 50:
    // b keeps everything (rate 1.0), a thins to 40
    val docs = ((1L to 100L).map(i => (i, "a")) ++ (101L to 110L).map(i => (i, "b")))
      .toDF("doc_id", "stratum")
    val out = CorpusOps.targetMixtureSample(docs, "doc_id", "stratum",
        Map("a" -> 0.8, "b" -> 0.2), identity)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(3) == 50 && out("b").getLong(3) == 50)
    assert(out("a").getLong(4) == 40 && out("b").getLong(4) == 10)
    assert(out("b").getDouble(5) == 1.0, "the binding stratum keeps all rows")
    assert(out("b").getLong(6) == 10, "rate 1.0 must realize every row")
    // shares that don't sum to 1 are a caller error
    intercept[IllegalArgumentException] {
      CorpusOps.targetMixtureSample(docs, "doc_id", "stratum",
        Map("a" -> 0.5), identity)
    }
  }

  test("targetMixtureSample: a targeted stratum with zero rows collapses the water line") {
    // target 'c' has no documents — no corpus can honor a 20% 'c' share,
    // so the feasible total must be 0 for EVERY stratum, not silently
    // computed over the strata that happen to exist
    val docs = (1L to 100L).map(i => (i, if (i <= 80) "a" else "b"))
      .toDF("doc_id", "stratum")
    val out = CorpusOps.targetMixtureSample(docs, "doc_id", "stratum",
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), identity)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 3, s"all targeted strata must report: ${out.keys}")
    out.foreach { case (st, r) =>
      assert(r.getLong(3) == 0, s"$st feasible ${r.getLong(3)}")
      assert(r.getLong(4) == 0 && r.getLong(6) == 0, s"$st kept ${r.getLong(6)}")
      assert(r.getDouble(5) == 0.0, s"$st rate ${r.getDouble(5)}")
    }
    assert(out("c").getLong(1) == 0, "empty stratum reports n_docs 0")
  }
}
