package graft

import graft.operators.GraphOps
import graft.queries.Q.dec6
import org.apache.spark.sql.functions._

/** Closed-form PageRank contracts: the rank vector stays a probability
  * distribution (dangling mass included), symmetric graphs converge to
  * uniform, and a hub out-weighs leaves — checked against hand-iterated
  * values, not against the implementation's own arithmetic. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("ranks sum to 1 with a dangling node, and match hand iteration") {
    // a -> b (w 1), b -> a (w 1), a -> c (w 1); c has no out-edges
    val e = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0))
      .toDF("src", "dst", "w")
    val out = GraphOps.pageRank(e, "src", "dst", "w",
        damping = 0.85, iters = 3, scoreOut = identity)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-9,
      s"mass not conserved: $out")
    // hand power iteration: r0 = 1/3 each; P: a->{b:.5, c:.5}, b->{a:1}
    var (ra, rb, rc) = (1.0 / 3, 1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 3) {
      val dm = rc // c is dangling
      val base = 0.15 / 3
      val (na, nb, nc) = (
        base + 0.85 * (rb + dm / 3),
        base + 0.85 * (0.5 * ra + dm / 3),
        base + 0.85 * (0.5 * ra + dm / 3))
      ra = na; rb = nb; rc = nc
    }
    assert(math.abs(out("a") - ra) < 1e-9, s"a: ${out("a")} vs $ra")
    assert(math.abs(out("b") - rb) < 1e-9, s"b: ${out("b")} vs $rb")
    assert(math.abs(out("c") - rc) < 1e-9, s"c: ${out("c")} vs $rc")
  }

  test("symmetric ring converges to uniform; parallel edges pre-merge") {
    // 4-ring both directions; one edge duplicated (must merge, not double)
    val e = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
        ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"), ("a", "b"))
      .toDF("src", "dst").withColumn("w", lit(1.0))
    val out = GraphOps.pageRank(e, "src", "dst", "w",
        damping = 0.85, iters = 8, scoreOut = dec6)
      .collect().map(r => r.getDouble(1))
    // duplicate a->b shifts a's split to 2/3 vs 1/3 — uniform only holds
    // because the RING is symmetric in totals; allow the small asymmetry
    assert(out.forall(r => math.abs(r - 0.25) < 0.04), out.mkString(","))
    assert(math.abs(out.sum - 1.0) < 1e-5)
  }

  test("higher in-weight wins: a hub fed by all nodes out-ranks leaves") {
    val e = Seq(("u", "hub", 9.0), ("u", "x", 1.0), ("v", "hub", 9.0),
        ("v", "x", 1.0), ("hub", "u", 1.0), ("x", "v", 1.0))
      .toDF("src", "dst", "w")
    val out = GraphOps.pageRank(e, "src", "dst", "w",
        damping = 0.85, iters = 10, scoreOut = identity)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("hub") > out("x") + 0.1, s"hub must dominate: $out")
  }

  test("scale path (partitioned rank) matches the broadcast fast path") {
    val e = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0),
        ("c", "d", 2.0), ("d", "a", 1.0))
      .toDF("src", "dst", "w")
    // the distributed body: 5 edges would take the driver-local regime
    def run(bcast: Option[Boolean]) = GraphOps.pageRankDistributed(
        GraphOps.mergedEdges(e, "src", "dst", "w"),
        damping = 0.85, iters = 4, scoreOut = identity, reliableEvery = 0,
        bcast = bcast)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val fast = run(None)         // 4 nodes ≤ NodeLimit → broadcast path
    val scale = run(Some(false)) // forces the partitioned-rank path
    assert(fast.keySet == scale.keySet)
    fast.foreach { case (n, r) =>
      assert(math.abs(r - scale(n)) < 1e-12, s"$n: $r vs ${scale(n)}")
    }
    assert(math.abs(scale.values.sum - 1.0) < 1e-9)
  }

  test("large-N superstep plan has NO broadcast of the rank vector") {
    // with auto-broadcast off, any BroadcastHashJoin left in the plan can
    // only come from an explicit broadcast() hint — the hazard this pins
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(k => spark.conf.set(k, "-1"))
    try {
      val norm = Seq(("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0))
        .toDF("src", "dst", "p")
      // state carries the static dangling flag (c has no out-edge)
      val rank = Seq(("a", 1.0 / 3, 3.0, false), ("b", 1.0 / 3, 3.0, false),
        ("c", 1.0 / 3, 3.0, true)).toDF("node", "r", "__N", "__dang")
      def planOf(bcast: Boolean): String = {
        val step = graft.operators.GraphOps
          .pageRankStep(norm, rank, 0.85, bcastRank = bcast)
        step.queryExecution.executedPlan.toString
      }
      val scalePlan = planOf(bcast = false)
      assert(!scalePlan.contains("BroadcastHashJoin"),
        s"scale path must not broadcast the rank vector:\n$scalePlan")
      // the scale path computes the dangling mass as a scalar aggregate —
      // never a partition-less window over the unbounded rank vector
      assert(!scalePlan.contains("Window"),
        s"scale path must not window the rank vector:\n$scalePlan")
      val fastPlan = planOf(bcast = true)
      assert(fastPlan.contains("BroadcastHashJoin"),
        s"fast path should take the hint:\n$fastPlan")
      // the hint is the only difference: the hinted step sums the
      // dangling mass with the same scalar aggregate, no window either
      assert(!fastPlan.contains("Window"),
        s"hinted step must not window the rank vector:\n$fastPlan")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("triangleStats: hand graph — counts, clustering, canonicalization") {
    // edges ab ac bc cd bd de → triangles {a,b,c}, {b,c,d}; plus a
    // reversed duplicate and a self-loop that must be canonicalized away
    val e = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("b", "d"),
        ("d", "e"), ("b", "a"), ("c", "c"))
      .toDF("x", "y")
    val out = GraphOps.triangleStats(e, "x", "y", dec6)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 5)
    def row(n: String) = (out(n).getLong(1), out(n).getLong(2), out(n).getDouble(3))
    assert(row("a") == ((2L, 1L, 1.0)))
    assert(row("b") == ((3L, 2L, 0.666667)))
    assert(row("c") == ((3L, 2L, 0.666667)))
    assert(row("d") == ((3L, 1L, 0.333333)))
    assert(row("e") == ((1L, 0L, 0.0)))
  }

  test("triangleStats maxDegree: hubs drop, induced census exact, no-bite = identity") {
    // triangle {a,b,c} plus hub h wired to everything (deg 5 > cap 3):
    // capped census = census of the induced subgraph without h — the
    // triangle survives with within-subgraph degrees, h and its
    // pendant-only neighbors leave the output
    val e = (Seq(("a", "b"), ("a", "c"), ("b", "c")) ++
        Seq("a", "b", "c", "p", "q").map(("h", _)))
      .toDF("x", "y")
    val capped = GraphOps.triangleStats(e, "x", "y", dec6,
        maxDegree = Some(3L))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(capped.keySet == Set("a", "b", "c"),
      s"hub and cap-isolated nodes must leave: $capped")
    assert(Seq("a", "b", "c").forall(capped(_) == ((2L, 1L, 1.0))))
    // a cap no node exceeds is the identity: same rows as the exact path
    val exact = GraphOps.triangleStats(e, "x", "y", dec6)
      .collect().map(_.toSeq).toSet
    val noBite = GraphOps.triangleStats(e, "x", "y", dec6,
        maxDegree = Some(100L))
      .collect().map(_.toSeq).toSet
    assert(noBite == exact)
  }

  test("doulion: keepPct 100 is the exact count; the md5 coin is deterministic") {
    // two triangles sharing node b: exact T = 2
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("b", "d"), ("d", "f"),
        ("b", "f"))
      .toDF("x", "y")
    val full = GraphOps.triangleCountDoulion(e, "x", "y", keepPct = 100,
      scoreOut = dec6).head()
    assert(full.getAs[Long]("n_tri_sampled") == 2L)
    assert(full.getAs[Long]("n_edges_sampled") == 6L)
    assert(full.getAs[Double]("est_triangles") == 2.0)
    // the sampled run is a pure function of the edge set (hash coin):
    // two invocations agree, the estimate is count / p^3
    val s1 = GraphOps.triangleCountDoulion(e, "x", "y", keepPct = 50,
      scoreOut = dec6).head()
    val s2 = GraphOps.triangleCountDoulion(e, "x", "y", keepPct = 50,
      scoreOut = dec6).head()
    assert(s1.toSeq == s2.toSeq)
    assert(math.abs(s1.getAs[Double]("est_triangles") -
      s1.getAs[Long]("n_tri_sampled") / 0.125) < 1e-9)
  }

  test("bfsHops: min-hop distances, early stop, directed asymmetry") {
    // path 1-2-3-4-5 plus shortcut 1-4; island 9-10
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (9L, 10L)).toDF("s", "d")
    val out = GraphOps.bfsHops(e, "s", "d", seeds = Seq(1L), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // shortcut wins: 4 at hop 1 (not 3), 5 at hop 2; island unreached
    assert(out == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2),
      s"got $out")
    // directed: 5 -> nothing (edges point away from it)
    val dir = GraphOps.bfsHops(e, "s", "d", seeds = Seq(5L), maxHops = 10,
        directed = true)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dir == Map(5L -> 0), s"got $dir")
    // maxHops truncation
    val trunc = GraphOps.bfsHops(e, "s", "d", seeds = Seq(1L), maxHops = 1)
      .collect().map(_.getLong(0)).toSet
    assert(trunc == Set(1L, 2L, 4L))
  }

  test("reliableEvery: durable supersteps, same fixpoint as the default") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val e = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 1.0),
        ("c", "d", 2.0), ("d", "a", 1.0))
      .toDF("src", "dst", "w")
    // the distributed bodies: the driver-local regime has no supersteps
    // to checkpoint
    def run(every: Int) = GraphOps.pageRankDistributed(
        GraphOps.mergedEdges(e, "src", "dst", "w"),
        damping = 0.85, iters = 4, scoreOut = identity, reliableEvery = every)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val local = run(0)
    val durable = run(2) // supersteps 2 and 4 hit the reliable path
    assert(local.keySet == durable.keySet)
    local.foreach { case (n, r) =>
      assert(math.abs(r - durable(n)) < 1e-12, s"$n: $r vs ${durable(n)}")
    }
    // the reliable path actually wrote durable snapshots
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
    assert(wrote >= 2, s"expected >=2 durable rdd snapshots under $dir, got $wrote")
    // BFS rides the same policy
    val be = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    def bfs(every: Int) = GraphOps.bfsDistributed(
        GraphOps.bfsEdges(be, "s", "d", directed = false), Seq(1L),
        maxHops = 5, reliableEvery = every)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bLocal = bfs(0)
    val bDur = bfs(1)
    assert(bLocal == bDur, s"$bLocal vs $bDur")
  }

  test("louvain round: hinted and unhinted rounds agree; only the hint broadcasts") {
    // two triangles {1,2,3} and {4,5,6} with bridge 3-4; m = 7
    val canon = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
        (5L, 6L), (3L, 4L))
      .toDF("u", "v").withColumn("w", lit(1.0))
    val sym = canon.unionAll(canon.select(col("v").as("u"),
      col("u").as("v"), col("w")))
    // any valid (node, label, deg) state exercises the round contract;
    // node 3 starts in the other triangle's community
    val lab = Seq((1L, 1L, 2.0), (2L, 1L, 2.0), (3L, 4L, 3.0),
        (4L, 4L, 3.0), (5L, 4L, 2.0), (6L, 4L, 2.0))
      .toDF("node", "label", "deg")
    def run(bcast: Boolean) = GraphOps.louvainRound(sym, lab, active = 1L,
        mVal = 7.0, scoreOut = dec6, bcast = bcast)
    def rows(bcast: Boolean) = run(bcast).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val hinted = rows(bcast = true)
    val unhinted = rows(bcast = false)
    assert(hinted.sameElements(unhinted),
      s"hinted ≠ unhinted: ${hinted.toSeq} vs ${unhinted.toSeq}")
    // active node 3 moves back to community 1: gain 2 − 3·4/14 against
    // 1 − 3·7/14 for staying in 4
    assert(hinted.toSeq.contains((3L, 1L, 3.0)), hinted.toSeq)
    // plan pins (auto-broadcast off so only the explicit hint builds one):
    // the hinted round broadcasts, the unhinted one broadcasts nothing,
    // and neither windows by label (Σ_tot is a partially aggregated sum)
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(k => spark.conf.set(k, "-1"))
    try {
      val hintedPlan = run(bcast = true).queryExecution.executedPlan.toString
      assert(hintedPlan.contains("BroadcastHashJoin"),
        s"hinted round should take the hint:\n$hintedPlan")
      val scalePlan = run(bcast = false).queryExecution.executedPlan.toString
      assert(!scalePlan.contains("BroadcastHashJoin"),
        s"unhinted round must not broadcast the label state:\n$scalePlan")
      Seq(hintedPlan, scalePlan).foreach(p =>
        assert(!p.contains("windowspecdefinition(label"),
          s"a round must not window by label (no partial agg):\n$p"))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
