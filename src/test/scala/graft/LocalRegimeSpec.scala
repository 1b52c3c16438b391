package graft

import java.util.concurrent.atomic.AtomicLong
import graft.operators.{EventOps, GraphOps, LocalGraph}
import graft.queries.GraphQ
import graft.sources.Tables
import graft.queries.Q.dec6
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cross-validation of GraphOps' driver-local regime against the
  * distributed bodies, operator by operator: on the hand fixtures of
  * GraphOpsSpec, GraphExtraSpec and ForecastDiagnosticsSpec, and on the
  * sf0.001 edge sets of the eight graph queries. The public call must
  * take the local regime (its plan reads only local relations); both
  * sides must have the same schema, identical integral and string
  * values, and doubles within 1e-12 that are identical after dec6. Also
  * the regime gate itself ([[LocalGraph.collectAtMost]]), the public
  * calls that fall back to the distributed bodies, and the weighted
  * Louvain sweep of the multi-level operator's large level 2. */
class LocalRegimeSpec extends SparkSpec {
  import spark.implicits._

  private def rnd6(x: Double): Double =
    math.floor(x * 1e6 + graft.queries.Q.BIAS) / 1e6

  private def assertSame(what: String, local: DataFrame, dist: DataFrame,
                         onDriver: Boolean = true): Unit = {
    val leaves = local.queryExecution.analyzed.collectLeaves()
    assert(leaves.forall(_.isInstanceOf[LocalRelation]) == onDriver,
      s"$what: not the ${if (onDriver) "driver-local" else "distributed"} " +
        s"regime:\n${local.queryExecution.analyzed}")
    assert(local.schema == dist.schema,
      s"$what: schema ${local.schema} vs ${dist.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.map {
      case _: Double => ""
      case v => String.valueOf(v)
    }.mkString("\u0001"))
    val (l, d) = (rows(local), rows(dist))
    assert(l.length == d.length, s"$what: ${l.length} vs ${d.length} rows")
    l.zip(d).foreach { case (a, b) =>
      a.zip(b).foreach {
        case (x: Double, y: Double) =>
          assert(math.abs(x - y) <= 1e-12 && rnd6(x) == rnd6(y),
            s"$what: $x vs $y in ${a.mkString(",")} / ${b.mkString(",")}")
        case (x, y) =>
          assert(x == y, s"$what: $x vs $y in ${a.mkString(",")} / ${b.mkString(",")}")
      }
    }
  }

  private def pageRank(what: String, e: DataFrame, s: String, d: String,
                       w: String, iters: Int, out: Column => Column): Unit =
    assertSame(s"pageRank $what",
      GraphOps.pageRank(e, s, d, w, 0.85, iters, out),
      GraphOps.pageRankDistributed(GraphOps.mergedEdges(e, s, d, w), 0.85,
        iters, out, reliableEvery = 0))

  private def hits(what: String, e: DataFrame, s: String, d: String,
                   w: String, iters: Int, out: Column => Column): Unit =
    assertSame(s"hits $what",
      GraphOps.hits(e, s, d, w, iters, out),
      GraphOps.hitsDistributed(GraphOps.mergedEdges(e, s, d, w), iters, out,
        reliableEvery = 0))

  private def bfs(what: String, e: DataFrame, s: String, d: String,
                  seeds: Seq[Long], maxHops: Int, directed: Boolean = false): Unit =
    assertSame(s"bfs $what",
      GraphOps.bfsHops(e, s, d, seeds, maxHops, directed),
      GraphOps.bfsDistributed(GraphOps.bfsEdges(e, s, d, directed), seeds,
        maxHops, reliableEvery = 0))

  private def canon(e: DataFrame, a: String, b: String) =
    GraphOps.canonEdges(e, a, b).persist()

  private def kCore(what: String, e: DataFrame, a: String, b: String, k: Int,
                    maxRounds: Int = 50): Unit =
    assertSame(s"kCore $what",
      GraphOps.kCore(e, a, b, k, maxRounds),
      GraphOps.kCoreDistributed(canon(e, a, b), k, maxRounds, reliableEvery = 0))

  private def lpa(what: String, e: DataFrame, a: String, b: String, iters: Int): Unit =
    assertSame(s"labelPropagation $what",
      GraphOps.labelPropagation(e, a, b, iters),
      GraphOps.labelPropagationDistributed(canon(e, a, b), iters, reliableEvery = 0))

  private def louvain(what: String, e: DataFrame, a: String, b: String,
                      rounds: Int, topK: Int, out: Column => Column): Unit = {
    assertSame(s"louvainOneLevel $what",
      GraphOps.louvainOneLevel(e, a, b, rounds, topK, out),
      GraphOps.louvainOneLevelDistributed(canon(e, a, b), rounds, topK, out,
        reliableEvery = 0))
    assertSame(s"louvainMultiLevel $what",
      GraphOps.louvainMultiLevel(e, a, b, rounds, topK, out),
      GraphOps.louvainMultiLevelDistributed(canon(e, a, b), rounds, topK, out,
        reliableEvery = 0))
  }

  test("pageRank and hits: hand fixtures") {
    val dangling = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0))
      .toDF("src", "dst", "w")
    val ring = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"), ("a", "b"))
      .toDF("src", "dst").withColumn("w", lit(1.0))
    val hub = Seq(("u", "hub", 9.0), ("u", "x", 1.0), ("v", "hub", 9.0),
        ("v", "x", 1.0), ("hub", "u", 1.0), ("x", "v", 1.0))
      .toDF("src", "dst", "w")
    val cycle = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0),
        ("c", "d", 2.0), ("d", "a", 1.0)).toDF("src", "dst", "w")
    val star = Seq(("a", "b", 3.0), ("a", "c", 1.0)).toDF("src", "dst", "w")
    val dup = Seq(("a", "b", 1.0), ("a", "b", 1.0), ("b", "c", 2.0),
        ("c", "a", 2.0)).toDF("src", "dst", "w")
    val tri = Seq(("a", "b", 3.0), ("b", "c", 1.0), ("c", "a", 2.0),
        ("a", "c", 1.0)).toDF("src", "dst", "w")
    Seq("dangling" -> dangling, "ring" -> ring, "hub" -> hub, "cycle" -> cycle,
        "star" -> star, "dup" -> dup, "tri" -> tri).foreach { case (n, e) =>
      pageRank(n, e, "src", "dst", "w", 4, identity)
      pageRank(s"$n dec6", e, "src", "dst", "w", 8, dec6)
      hits(n, e, "src", "dst", "w", 3, identity)
      hits(s"$n dec6", e, "src", "dst", "w", 4, dec6)
    }
  }

  test("bfsHops: hand fixtures, seeds off the graph and repeated") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (9L, 10L)).toDF("s", "d")
    bfs("undirected", e, "s", "d", Seq(1L), 10)
    bfs("directed", e, "s", "d", Seq(5L), 10, directed = true)
    bfs("truncated", e, "s", "d", Seq(1L), 1)
    bfs("no hops", e, "s", "d", Seq(1L), 0)
    bfs("seeds", e, "s", "d", Seq(9L, 42L, 9L, 3L), 2)
  }

  test("kCore, labelPropagation, Louvain: hand fixtures") {
    val cliqueChain = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    Seq(1, 2, 3, 5).foreach(k => kCore(s"clique+chain k=$k", cliqueChain, "a", "b", k))
    // one round peels the chain's tail only: truncation must agree too
    kCore("maxRounds=1", cliqueChain, "a", "b", 2, maxRounds = 1)
    val twoTri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val cliquePendant = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("a", "b")
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val fourTri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (7L, 8L), (8L, 9L), (7L, 9L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 4L), (6L, 7L), (9L, 10L)).toDF("a", "b")
    Seq("two triangles" -> twoTri, "clique+pendant" -> cliquePendant,
        "path" -> path, "four triangles" -> fourTri).foreach { case (n, e) =>
      lpa(n, e, "a", "b", 4)
      louvain(n, e, "a", "b", 4, 100, dec6)
      louvain(s"$n identity", e, "a", "b", 3, 2, identity)
    }
    // string ids: ties go to the smallest label in Spark's string order
    val words = Seq(("b", "a"), ("b", "C"), ("a", "Z"), ("C", "Z"), ("é", "a"))
      .toDF("a", "b")
    lpa("strings", words, "a", "b", 3)
    kCore("strings", words, "a", "b", 2)
  }

  test("the eight graph queries' sf0.001 edge sets") {
    val s = spark
    val d = sfTiny
    val nation = Tables.nation(s, d)
    val trade = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(nation.select(col("n_nationkey").as("__ck"), col("n_name").as("src")),
        col("c_nationkey") === col("__ck"))
      .join(nation.select(col("n_nationkey").as("__sk"), col("n_name").as("dst")),
        col("s_nationkey") === col("__sk"))
      .select(col("src"), col("dst"), col("l_extendedprice"))
    pageRank("q233", trade, "src", "dst", "l_extendedprice", 5, dec6)
    val tok = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z]+")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 3)
    val co = tok.as("a").join(tok.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("b.pos") > col("a.pos") &&
          col("b.pos") - col("a.pos") <= 3 && col("a.w") =!= col("b.w"))
      .select(col("a.w").as("src"), col("b.w").as("dst"))
    val words = co.unionAll(co.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("wt", lit(1.0))
    pageRank("q327", words, "src", "dst", "wt", 5, dec6)
    val markov = EventOps.markovTransitions(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", scoreOut = identity)
      .select(col("cur_state"), col("next_state"), col("n"))
    hits("q306", markov, "cur_state", "next_state", "n", 4, dec6)
    val purchases = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + 1000000L).as("sp"))
    bfs("q287", purchases, "c", "sp", Seq(1L), 3)
    val coAct = GraphQ.coActivityEdges(s, d).persist()
    kCore("q323", coAct, "ua", "ub", 2)
    lpa("q330", coAct, "ua", "ub", 4)
    louvain("q337/q347", coAct, "ua", "ub", 4, 20, dec6)
  }

  /** The bytes the tasks of the jobs `f` runs send back to the driver
    * (their serialized results), and those jobs' count. */
  private def shipped(f: => Unit): (Long, Int) = {
    val sc = spark.sparkContext
    val group = s"shipped-${System.nanoTime}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val (bytes, tasks) = (new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          bytes.addAndGet(e.taskMetrics.resultSize); tasks.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      val jobs = jobsIn(group)(f)
      // the listener bus is asynchronous: wait until the tally settles
      var prev = -1L
      var spins = 0
      while (tasks.get != prev && spins < 50) {
        prev = tasks.get; Thread.sleep(100); spins += 1
      }
      (bytes.get, jobs)
    } finally sc.removeSparkListener(listener)
  }

  test("collectAtMost: an over-bound table is rejected without shipping it") {
    // 64 partitions of 2,000 rows against a bound of 1,000: every
    // partition is under the bound, the table is 128 times over it
    val df = spark.range(0L, 128000L, 1L, 64)
      .select(col("id"), (col("id") * 7).as("x")).persist()
    var got: Option[Array[Row]] = Some(Array.empty)
    val (gate, gateJobs) = shipped { got = LocalGraph.collectAtMost(df, 1000L) }
    val (all, _) = shipped {
      spark.sparkContext.runJob(df.rdd, (it: Iterator[Row]) => it.toArray)
    }
    assert(got.isEmpty)
    assert(gateJobs == 1)
    // one share (16 rows) per partition plus per-task overhead, against
    // every row shipped the same way
    assert(gate * 20 < all, s"the gate shipped $gate bytes, all rows $all")
    info(s"the gate shipped $gate bytes, all rows $all (${all / 128000} per row)")
    df.unpersist()
  }

  test("collectAtMost: under the bound every row comes back in partition order") {
    val even = spark.range(0L, 1000L, 1L, 8).toDF("id")
    var got: Option[Array[Row]] = None
    val (_, evenJobs) = shipped { got = LocalGraph.collectAtMost(even, 1000L) }
    assert(evenJobs == 1)
    assert(got.map(_.map(_.getLong(0)).toSeq).contains(0L until 1000L))
    assert(LocalGraph.collectAtMost(even, 999L).isEmpty)
    // all rows in one of 8 (cached) partitions: over its share, so a
    // second job fetches that partition alone
    val skewed = spark.range(0L, 1000L, 1L, 8).toDF("id").repartition(8, lit(0)).persist()
    assert(skewed.count() == 1000L)
    val (_, skewJobs) = shipped { got = LocalGraph.collectAtMost(skewed, 1000L) }
    assert(skewJobs == 2)
    assert(got.map(_.map(_.getLong(0)).sorted.toSeq).contains(0L until 1000L))
    skewed.unpersist()
    assert(LocalGraph.collectAtMost(spark.range(0L).toDF("id"), 0L)
      .exists(_.isEmpty))
  }

  test("inputs the local regime does not replay fall back to the distributed bodies") {
    // a null endpoint id, a source whose out-weight is zero, a null weight
    val nullId = Seq[(String, String, java.lang.Double)](("a", "b", 1.0),
        ("b", "a", 1.0), (null, "c", 1.0), ("a", "c", 2.0))
      .toDF("src", "dst", "w")
    val zeroOut = Seq(("a", "b", 1.0), ("b", "a", 0.0), ("a", "c", 2.0))
      .toDF("src", "dst", "w")
    val nullW = Seq[(String, String, java.lang.Double)](("a", "b", 1.0),
        ("b", "a", null), ("a", "c", 2.0))
      .toDF("src", "dst", "w")
    def pageRankDist(e: DataFrame) =
      GraphOps.pageRankDistributed(GraphOps.mergedEdges(e, "src", "dst", "w"),
        0.85, 4, dec6, reliableEvery = 0)
    Seq("null id" -> nullId, "null weight" -> nullW).foreach { case (n, e) =>
      assertSame(s"pageRank $n", GraphOps.pageRank(e, "src", "dst", "w", 0.85, 4, dec6),
        pageRankDist(e), onDriver = false)
    }
    // the distributed body divides by the zero out-weight: the public
    // call must raise the same error, not return driver-side numbers.
    // With AQE off the error comes from the broadcast future, wrapped in
    // an ExecutionException, so the condition is read from the cause chain
    def condition(e: Throwable): Option[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
    Seq(true, false).foreach { aqe =>
      withAqe(aqe) {
        val dist = intercept[Exception](pageRankDist(zeroOut).collect())
        val pub = intercept[Exception](
          GraphOps.pageRank(zeroOut, "src", "dst", "w", 0.85, 4, dec6).collect())
        assert(condition(pub).contains("DIVIDE_BY_ZERO") &&
          condition(dist).contains("DIVIDE_BY_ZERO"), s"AQE $aqe: $pub / $dist")
      }
    }
    assertSame("hits null id", GraphOps.hits(nullId, "src", "dst", "w", 3, dec6),
      GraphOps.hitsDistributed(GraphOps.mergedEdges(nullId, "src", "dst", "w"), 3,
        dec6, reliableEvery = 0), onDriver = false)
    // string ids: the local sweep takes parity classes from integral ids
    // only (the distributed body casts each id to long)
    val words = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4")).toDF("a", "b")
    assertSame("louvainOneLevel string ids",
      GraphOps.louvainOneLevel(words, "a", "b", 3, 10, dec6),
      GraphOps.louvainOneLevelDistributed(canon(words, "a", "b"), 3, 10, dec6,
        reliableEvery = 0), onDriver = false)
  }

  test("weighted Louvain sweep with self-loops: driver and distributed agree") {
    // the contracted-graph shape the large level 2 of louvainMultiLevel
    // sweeps: canonical u <= v, integral weights, self-loops; 40 nodes,
    // about one pair in six joined, every third node looped
    val rnd = new scala.util.Random(7)
    val pairs = for (u <- 1L to 40L; v <- u + 1 to 40L if rnd.nextInt(6) == 0)
      yield (u, v, 1.0 + rnd.nextInt(4))
    val loops = (3L to 40L by 3L).map(u => (u, u, 1.0 + rnd.nextInt(6)))
    val canonW = (pairs ++ loops).toDF("u", "v", "w").persist()
    val rows = canonW.collect()
    val g = LocalGraph(rows, LongType)
    for (out <- Seq[Column => Column](identity, dec6); offset <- Seq(1, 4);
         rounds <- Seq(1, 4)) {
      val (_, score) = LocalGraph.scalar(spark, out)
      val lab = GraphOps.louvainSweepLocal(g, rows.map(_.getDouble(2)), rounds,
        offset, score)
      val local = g.ids.indices.map(i => g.ids(i) -> g.ids(lab(i))).toMap
      val (dl, _) = GraphOps.louvainSweepW(canonW, rounds, out,
        reliableEvery = 0, roundOffset = offset)
      val dist = dl.collect().map(r => r.get(0) -> r.get(1)).toMap
      assert(local == dist, s"offset $offset rounds $rounds: $local vs $dist")
    }
    canonW.unpersist()
  }
}
