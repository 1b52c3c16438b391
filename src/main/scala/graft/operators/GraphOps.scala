package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph algorithms as unrolled DataFrame joins. The per-node
  * state (the rank vector) is always node-sized — orders of magnitude
  * smaller than the edge table — so every iteration is one edge⋈rank
  * equi-join on src plus one dst-keyed aggregate, the textbook
  * shuffle-bounded power-iteration shape (Pregel's superstep without the
  * framework). Companion to the star-contraction connected components in
  * [[DedupOps]].
  *
  * Two physical regimes for the superstep operators (pageRank, hits,
  * bfsHops, kCore, labelPropagation, the Louvain sweep), picked per call:
  *  - DRIVER-LOCAL: the operator builds its merged edge table as a plan
  *    that nothing persists, and one job runs it, counts it and collects
  *    it when it has at most [[LocalEdgeLimit]] rows
  *    ([[LocalGraph.collectAtMost]]: about the bound's worth of rows ships
  *    at most, whatever the table's size). At or below the bound the
  *    supersteps run on the driver over a [[LocalGraph]] (dense node
  *    index, CSR adjacency) with the same semantics, and the result
  *    returns as a LocalRelation: no superstep, probe, checkpoint or
  *    cache job, nothing left cached, and no job at all until the result
  *    is drained.
  *  - DISTRIBUTED: above it, one body shape per operator. Its node-sized
  *    state enters the node-keyed joins with a broadcast hint while the
  *    graph has at most [[NodeLimit]] nodes; above that every such join
  *    shuffles (the web-graph regime). The hint is the only difference
  *    (HITS alone keeps a second normalizer shape, see
  *    [[hitsDistributed]]).
  *
  * In the distributed regime the body persists the edge table it
  * iterates (the only place the table is read more than once), and each
  * superstep checkpoints the node-sized state LAZILY (the fixed-horizon
  * operators through [[Ckpt.iterate]], the data-dependent loops through
  * [[Ckpt.step]] with `eager = false`): the blocks are written by the
  * state's first consumer, and the persisted edge table is reused — the
  * Pregel execution model. A pure lazy plan is NOT an option there: the
  * rank vector feeds three consumers per step (dangling mass,
  * contribution join, next vector), so unmaterialized lineage grows
  * ~3^iters logical nodes and Catalyst analysis time explodes long before
  * execution would. */
object GraphOps {

  /** Driver-local regime bound: a merged edge table of at most this many
    * rows is collected and iterated on the driver. 2^22, the
    * [[DedupOps.nearDupClusters]] gate. The table arrives as UnsafeRows,
    * about 40 bytes per integral-id edge serialized (a long pair, measured
    * in `LocalRegimeSpec`), and becomes Rows of boxed values on the driver,
    * about 100 bytes each, so a few hundred MB at the bound, within the
    * default 1 GB `spark.driver.maxResultSize`; string ids add their
    * length. The
    * supersteps' index arrays add a few tens of MB. A table above the
    * bound ships at most about the bound's worth of rows before the gate
    * rejects it ([[LocalGraph.collectAtMost]]). A graph over a vocabulary
    * of V nodes has at most V² merged edges, so vocabulary-sized graphs
    * always land here. */
  val LocalEdgeLimit: Long = 1L << 22

  /** Broadcast-hint bound: the distributed bodies hint node-sized state
    * of at most this many nodes broadcast into their joins. */
  val NodeLimit: Long = 1000000L

  /** Super-edge bound of [[louvainMultiLevel]]'s driver-side level-2
    * sweep ([[seqLocalMoving]]); above it level 2 runs as a sweep. */
  private val SeqEdgeLimit: Long = 1000000L

  /** `broadcast(df)` when `on` (node-sized state within [[NodeLimit]]),
    * `df` otherwise. */
  private def bc(on: Boolean)(df: DataFrame): DataFrame =
    if (on) broadcast(df) else df

  /** The driver-local regime's gate over an edge table `e` whose columns
    * 0 and 1 are the endpoint ids: `run`'s result when `e` has at most
    * [[LocalEdgeLimit]] rows (one job over `e`'s plan, which is not
    * persisted; see [[LocalGraph.collectAtMost]] for what it ships), the
    * ids are non-null and of one [[LocalGraph.supports]]ed type, and `run`
    * mirrors the case (it returns None for inputs whose distributed
    * semantics it does not replay, e.g. a division by zero). Otherwise
    * None, and the distributed body persists `e` itself. */
  private def onDriver(e: DataFrame)(run: Array[Row] => Option[DataFrame]): Option[DataFrame] = {
    val dt = e.schema(0).dataType
    if (!LocalGraph.supports(dt) || e.schema(1).dataType != dt) None
    else LocalGraph.collectAtMost(e, LocalEdgeLimit)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .flatMap(run)
  }

  /** The node column of an edge table: `a` and `b` stacked as "node"
    * (analysis only — the field the distributed bodies' node tables
    * carry). */
  private def nodeField(e: DataFrame, a: String, b: String): StructField =
    e.select(col(a).as("node")).unionByName(e.select(col(b).as("node")))
      .schema("node")

  /** Parallel edges merged by weight sum into (src, dst, w): the edge
    * table of [[pageRank]] and [[hits]]. */
  private[graft] def mergedEdges(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String): DataFrame =
    edges
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(sum(col(weightCol).cast("double")).as("w"))

  /** Weighted PageRank by `iters` unrolled power-iteration steps:
    * r ← (1−d)/N + d·(Pᵀr + dangling/N), where P is the out-weight-
    * normalized transition matrix and `dangling` is the rank mass parked
    * on nodes with no out-edges (redistributed uniformly, the standard
    * stochastic fix — without it the vector no longer sums to 1).
    *
    * Every step costs: one scalar aggregate for the dangling mass (an
    * anti-join against the src set, crossed back as a 1-row literal),
    * one src-keyed equi-join of the normalized edges with the node-sized
    * rank vector, and one dst-keyed sum. Parallel edges are pre-merged
    * so the transition weights are well-defined.
    *
    * Two regimes (see the header): up to [[LocalEdgeLimit]] merged edges
    * the iteration runs on the driver ([[pageRankLocal]]); above it
    * [[pageRankDistributed]] runs [[pageRankStep]] per superstep, with
    * the node-sized rank vector and contribution sums hinted broadcast
    * while |nodes| ≤ [[NodeLimit]] and hash-partitioned by node above it
    * (no per-iteration broadcast of a multi-GB vector). The body's one
    * node-count aggregate picks the hint, and its collected value doubles
    * as the literal N everywhere.
    *
    * Fault tolerance: `reliableEvery` — see [[Ckpt.iterate]] (default 0 =
    * every superstep localCheckpoints lazily; set k > 0 plus a
    * `setCheckpointDir` for durable snapshots every k supersteps on
    * long cluster runs). The driver-local regime has no supersteps to
    * checkpoint.
    *
    * Returns (node, rank) — Σ rank = 1 up to float noise. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, damping: Double, iters: Int,
               scoreOut: Column => Column,
               reliableEvery: Int = 0): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1,
      s"bad pagerank params: iters=$iters damping=$damping")
    val e = mergedEdges(edges, srcCol, dstCol, weightCol)
    onDriver(e)(rows => pageRankLocal(e, rows, damping, iters, scoreOut))
      .getOrElse(pageRankDistributed(e, damping, iters, scoreOut, reliableEvery))
  }

  /** [[pageRank]]'s supersteps on the driver over the collected merged
    * edges: the same r ← (1−d)/N + d·(Σ r·p + dangling/N) with the same
    * operation order as [[pageRankStep]]. None (distributed body) when a
    * weight is null or a source's out-weight is zero. */
  private def pageRankLocal(e: DataFrame, rows: Array[Row], damping: Double,
                            iters: Int, scoreOut: Column => Column): Option[DataFrame] =
    if (rows.exists(_.isNullAt(2))) None
    else {
      val node = nodeField(e, "src", "dst")
      val g = LocalGraph(rows, node.dataType)
      val w = rows.map(_.getDouble(2))
      val outw = new Array[Double](g.n)
      val hasOut = new Array[Boolean](g.n)
      for (k <- 0 until g.m) { outw(g.src(k)) += w(k); hasOut(g.src(k)) = true }
      if (g.src.exists(outw(_) == 0.0)) None
      else {
        val p = Array.tabulate(g.m)(k => w(k) / outw(g.src(k)))
        val n = g.n.toDouble
        var r = Array.fill(g.n)(1.0 / n)
        for (_ <- 1 to iters) {
          var dm = 0.0
          for (i <- 0 until g.n if !hasOut(i)) dm += r(i)
          val cin = new Array[Double](g.n)
          for (k <- 0 until g.m) cin(g.dst(k)) += r(g.src(k)) * p(k)
          r = Array.tabulate(g.n)(i =>
            (1.0 - damping) / n + damping * (cin(i) + dm / n))
        }
        Some(LocalGraph.frame(e.sparkSession,
            g.ids.indices.map(i => Row(g.ids(i), r(i))),
            StructType(Seq(node, StructField("r", DoubleType))))
          .select(col("node"), scoreOut(col("r")).as("rank")))
      }
    }

  /** [[pageRank]]'s distributed body over the merged edge table `e`
    * (src, dst, w), which it persists: the table may sit on top of an
    * arbitrary join pipeline, and the out-weights, the normalized edges
    * and the node table all read it. `bcast` picks the broadcast hint;
    * None, what [[pageRank]] passes, probes |nodes| against [[NodeLimit]]
    * (the count is needed as N either way). Only specs set it, to plan
    * the unhinted joins on small graphs. */
  private[graft] def pageRankDistributed(e: DataFrame, damping: Double,
      iters: Int, scoreOut: Column => Column, reliableEvery: Int,
      bcast: Option[Boolean] = None): DataFrame = {
    e.persist()
    val outw = e.groupBy("src").agg(sum("w").as("__ow"))
    // the per-step working set: read `iters` times
    val norm = e.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("__ow")).as("p"))
      .persist()
    val nodeTab = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    // the dangling flag (node has NO out-edge) is a STATIC property of the
    // graph: attach it to the state ONCE and carry it through every
    // superstep, so the per-superstep dangling mass is a filter+sum over
    // the checkpointed state instead of the former rank ⋈ srcSet
    // anti-join — one broadcast build per superstep removed (r13: the
    // iterative job-count floor was the measured cost, q233 scaling 0.48)
    val srcSet = norm.select(col("src").as("node")).distinct()
      .withColumn("__has", lit(1))
    // ONE aggregate job whose value serves both the hint and the literal N
    val n = nodeTab.agg(count(lit(1)).cast("double")).first().getDouble(0)
    val bcastRank = bcast.getOrElse(n <= NodeLimit)
    val rank0 = nodeTab.join(bc(bcastRank)(srcSet), Seq("node"), "left")
      .select(col("node"), lit(1.0 / n).as("r"), lit(n).as("__N"),
        col("__has").isNull.as("__dang"))
    val rank = Ckpt.iterate(rank0, 1 to iters, reliableEvery) {
      (r, _) => pageRankStep(norm, r, damping, bcastRank)
    }
    rank.select(col("node"), scoreOut(col("r")).as("rank"))
  }

  /** One PageRank superstep (pre-checkpoint), exposed so GraphOpsSpec can
    * pin its plan: the dangling mass is a scalar aggregate crossed back
    * as a 1-row literal (never a partition-less window over the rank
    * vector), and `bcastRank` only hints the node-sized vector into the
    * edge join and the contribution sums into the state join; false
    * leaves both to shuffle.
    *
    * The state carries `__dang` (static no-out-edge flag, attached once in
    * [[pageRankDistributed]]), so no superstep re-joins the src set. */
  private[graft] def pageRankStep(norm: DataFrame,
      rank: DataFrame, damping: Double, bcastRank: Boolean): DataFrame = {
    val contrib = norm
      .join(bc(bcastRank)(rank.select(col("node"), col("r"))),
        col("src") === col("node"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("r") * col("p")).as("__cin"))
    val dangling = rank.filter(col("__dang"))
      .agg(coalesce(sum("r"), lit(0.0)).as("__dm"))
    rank.select(col("node"), col("__N"), col("__dang"))
      .crossJoin(dangling)
      .join(bc(bcastRank)(contrib), Seq("node"), "left")
      .select(col("node"),
        (lit(1.0 - damping) / col("__N") + lit(damping) *
          (coalesce(col("__cin"), lit(0.0)) + col("__dm") / col("__N")))
          .as("r"),
        col("__N"), col("__dang"))
  }

  /** Frontier BFS: minimum hop distance from a seed set to every node
    * within `maxHops`, over a directed or (default) undirected edge
    * list — the reach/blast-radius primitive (supply-chain exposure,
    * contagion radius, influence neighborhoods).
    *
    * Up to [[LocalEdgeLimit]] edges the frontier expands on the driver
    * ([[bfsLocal]]). Above it, [[bfsDistributed]] follows the Pregel
    * discipline (the [[pageRank]] lesson): it persists the edge set
    * once; per superstep the frontier expands through ONE equi-join, new
    * nodes are a LEFT ANTI against the visited set, and both frames go
    * through a lazy [[Ckpt.step]] so lineage stays O(1) instead of
    * k^hops. The per-hop `count()` of the new frontier is the hop's one
    * scheduler job — it materializes the frontier's checkpoint (and the
    * previous hop's visited state) and its zero stops dead subtrees
    * early. State is node-sized (node, hop); the frontier join shuffles
    * on the node key, never broadcasting anything unbounded.
    *
    * Fault tolerance: `reliableEvery` — see [[Ckpt.step]] (default 0 =
    * localCheckpoint every superstep; k > 0 plus a `setCheckpointDir`
    * makes every k-th hop's state durable, bounding replay to k−1
    * supersteps after an executor loss on long cluster runs).
    *
    * Returns (node, hop) with hop = first-visit depth (= min hop, BFS
    * invariant), seeds at hop 0. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: Seq[Long], maxHops: Int,
              directed: Boolean = false, reliableEvery: Int = 0): DataFrame = {
    require(maxHops >= 0 && maxHops <= 50, s"maxHops in [0,50], got $maxHops")
    val e = bfsEdges(edges, srcCol, dstCol, directed)
    onDriver(e)(rows => Some(bfsLocal(e, rows, seeds, maxHops)))
      .getOrElse(bfsDistributed(e, seeds, maxHops, reliableEvery))
  }

  /** [[bfsHops]]' edge table: (s, d) as longs, both orientations unless
    * `directed`, deduped. */
  private[graft] def bfsEdges(edges: DataFrame, srcCol: String, dstCol: String,
                              directed: Boolean): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"))
    (if (directed) e0
     else e0.union(e0.select(col("d").as("s"), col("s").as("d"))))
      .distinct()
  }

  /** [[bfsHops]] on the driver over the collected edge table: hop by hop,
    * each unvisited out-neighbor of the frontier joins at the current
    * hop; an empty frontier stops early. Seeds come first, at hop 0, as
    * given (a repeated seed repeats, as in the distributed body). */
  private def bfsLocal(e: DataFrame, rows: Array[Row], seeds: Seq[Long],
                       maxHops: Int): DataFrame = {
    val g = LocalGraph(rows, LongType, seeds.map(Long.box))
    val (off, to, _) = g.csr(both = false)
    val seen = new Array[Boolean](g.n)
    val out = seeds.map(s => Row(s, 0)).toBuffer
    var frontier = seeds.map(s => g.indexOf(Long.box(s))).distinct.toArray
    frontier.foreach(seen(_) = true)
    var h = 1
    while (h <= maxHops && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuilder.make[Int]
      for (f <- frontier; j <- off(f) until off(f + 1) if !seen(to(j))) {
        seen(to(j)) = true
        next += to(j)
        out += Row(g.ids(to(j)), h)
      }
      frontier = next.result()
      h += 1
    }
    // the distributed body's visited table takes the edge column's
    // nullability once a hop has added a node (a union), not before
    val grew = out.length > seeds.length
    LocalGraph.frame(e.sparkSession, out.toSeq, StructType(Seq(
      StructField("node", LongType, grew && e.schema("d").nullable),
      StructField("hop", IntegerType, nullable = false))))
  }

  /** [[bfsHops]]' distributed body over the edge table `e` (s, d) of
    * [[bfsEdges]], which it persists for the hops and releases after. */
  private[graft] def bfsDistributed(e: DataFrame, seeds: Seq[Long],
                                    maxHops: Int, reliableEvery: Int): DataFrame = {
    e.persist()
    val spark = e.sparkSession
    import spark.implicits._
    var visited = seeds.toDF("node").withColumn("hop", lit(0))
      .localCheckpoint()
    var frontier = visited
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      // ONE scheduler job per hop (r13b; was three): the frontier
      // expansion checkpoint is LAZY and the emptiness probe is a full
      // count() over it — the count materializes the checkpoint blocks
      // (and the previous hop's deferred visited state) inside the same
      // job, where the former eager-step + isEmpty + eager-union chain
      // paid a job each. count()==0 is exactly the old isEmpty test.
      val next = Ckpt.step(frontier.join(e, col("node") === col("s"))
        .select(col("d").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(h)), h, reliableEvery, eager = false)
      if (next.count() == 0L) done = true
      else {
        // coalesce: the visited union otherwise accumulates one exchange
        // width of partitions per hop (the louvainSweepW lesson). LAZY:
        // materializes inside the next hop's expansion job (the BPE
        // Ckpt.step(eager=false) pattern; nothing unpersists the previous
        // generation, so the deferral is safe).
        visited = Ckpt.step(
          visited.union(next)
            .coalesce(spark.sparkContext.defaultParallelism),
          h, reliableEvery, eager = false)
        frontier = next
      }
      h += 1
    }
    e.unpersist()
    visited
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected edge list (any orientation, duplicates/self-loops
    * tolerated), via the degree-ordered wedge join (Schank–Wagner /
    * Latapy): orient every canonical edge from its lower-(degree, id)
    * endpoint to the higher, enumerate wedges only at each edge's
    * oriented SOURCE, and close them against the oriented edge set.
    * With this orientation every node's out-degree is O(√m), so the
    * wedge table is O(m^1.5) worst-case instead of Σdeg² — the standard
    * scale fix that makes triangle counting survive skewed degree
    * distributions (a celebrity node of degree 10⁶ contributes ZERO
    * wedges at itself; its triangles are counted at low-degree
    * neighbors). Each triangle {a,b,c} is emitted exactly once (its
    * rank-minimal node is the wedge center), then exploded to all three
    * corners for the per-node tally.
    *
    * Returns (node, degree, n_triangles, clustering) where clustering =
    * 2T / (deg·(deg−1)), defined 0 for degree < 2. */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String,
                    scoreOut: Column => Column,
                    maxDegree: Option[Long] = None): DataFrame = {
    // canonical undirected edge set: u < v, loops dropped. Persisted —
    // degrees, orientation and the closing join all re-read it.
    val eRaw = canonEdges(edges, aCol, bCol).persist()
    // Optional hub cap — the 100 TB knob (the q322 Adamic-Adar
    // precedent): the degree-ordered orientation bounds wedge volume at
    // O(m^1.5) only when SOME corner of each triangle has modest degree;
    // on a uniformly dense graph (every degree ≈ d) wedge volume is
    // Θ(n·d²) and no orientation helps — q246's 3×-density probe
    // honestly measured exponent 2.0. With maxDegree set, nodes whose
    // FULL-graph degree exceeds the cap are dropped and the census runs
    // EXACTLY on the induced non-hub subgraph (degrees, triangles and
    // clustering all recomputed within it; nodes isolated by the cap
    // leave the output): a celebrity's clustering coefficient is ≈ 0 at
    // quadratic cost — near-zero evidence the cap trades away, the same
    // call every production triangle counter ships (cf. also
    // DOULION-style edge sampling, Tsourakakis KDD'09, when hub
    // triangles themselves are the question). The cap is mirrored in
    // the q345 oracle, so the capped semantics — not just the fast
    // path — is what the gate checks.
    val e = maxDegree match {
      case None => eRaw
      case Some(cap) =>
        val fullDeg = eRaw.select(col("u").as("node"))
          .unionAll(eRaw.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val keep = fullDeg.filter(col("deg") <= cap).select("node")
        eRaw
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .select("u", "v")
          .persist()
    }
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .persist()
    // attach endpoint degrees, orient low-(deg,id) → high-(deg,id); carry
    // the target's rank struct so wedge endpoints can be ordered without
    // another degree join
    val oriented = e
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), "v")
      .select(
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t"),
            struct(col("__dv").as("d"), col("v").as("n")).as("trk")))
        .otherwise(
          struct(col("v").as("s"), col("u").as("t"),
            struct(col("__du").as("d"), col("u").as("n")).as("trk")))
        .as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"), col("o.trk").as("trk"))
      .persist()
    // wedges at the rank-minimal corner; b precedes c in rank order, so
    // the closing edge — if present — is oriented exactly b → c
    val wedges = oriented.select(col("s"), col("t").as("b"), col("trk").as("__rb"))
      .join(oriented.select(col("s"), col("t").as("c"), col("trk").as("__rc")),
        Seq("s"))
      .filter(col("__rb") < col("__rc"))
      .select(col("s").as("a"), col("b"), col("c"))
    // SHUFFLE_HASH on the edge side: the closing join's streamed side is
    // the O(m^1.5) wedge table — a SortMergeJoin SORTS those 5.5M rows
    // (at sf0.1) before probing, while hashing the m-sized edge side per
    // partition skips that sort entirely (guide §3.1: shuffled hash when
    // one side is moderately small per partition; the build side is
    // edges/shuffle-partitions, never wedge-scaled)
    val tri = wedges
      .join(oriented.select(col("s").as("b"), col("t").as("c")).hint("shuffle_hash"),
        Seq("b", "c"))
      .persist()
    val perNode = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        scoreOut(when(col("deg") >= 2,
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
              (col("deg").cast("double") * (col("deg") - lit(1))))
          .otherwise(lit(0.0))).as("clustering"))
  }

  /** HITS hubs & authorities (Kleinberg '99) by `iters` unrolled
    * mutual-reinforcement steps over a weighted directed edge list:
    * h(u) ← Σ_{u→v} w·a(v), a(v) ← Σ_{u→v} w·h(u), each vector
    * L1-normalized per step (Kleinberg's convergence to the principal
    * eigenvectors of WWᵀ/WᵀW is norm-independent; L1 keeps both scores a
    * probability-like mass, the PageRank convention here). The
    * directional complement of [[pageRank]]: rank rewards being POINTED
    * AT by rank; HITS separates pointing-well (hub) from being-pointed-at
    * (authority) — on an event-transition graph, "what funnels flow"
    * vs "what flow lands on".
    *
    * Same regimes as [[pageRank]]: up to [[LocalEdgeLimit]] merged edges
    * the steps run on the driver ([[hitsLocal]]); above it
    * [[hitsDistributed]] runs each iteration as one src-keyed and one
    * dst-keyed edge⋈vector equi-join plus an L1 normalizer, with
    * node-sized vectors lazily checkpointed per step by [[Ckpt.iterate]]
    * (O(1) lineage, `reliableEvery` for durable snapshots), hinted
    * broadcast into the edge joins while |nodes| ≤ [[NodeLimit]] and
    * hash-partitioned above it. Unlike the other operators, the hint
    * also picks the normalizer's shape (see [[hitsDistributed]]).
    *
    * Returns (node, hub, authority), each column summing to 1; nodes
    * with no out-edges (resp. in-edges) score 0 on that side. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, iters: Int, scoreOut: Column => Column,
           reliableEvery: Int = 0): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1,50], got $iters")
    val e = mergedEdges(edges, srcCol, dstCol, weightCol)
    onDriver(e)(rows => hitsLocal(e, rows, iters, scoreOut))
      .getOrElse(hitsDistributed(e, iters, scoreOut, reliableEvery))
  }

  /** [[hits]] on the driver over the collected merged edges: h = Σ w·a
    * over out-edges, a = Σ w·h over in-edges, each L1-normalized per
    * step, hub and authority of the last step. None (distributed body)
    * when a weight is null or a normalizer is zero. */
  private def hitsLocal(e: DataFrame, rows: Array[Row], iters: Int,
                        scoreOut: Column => Column): Option[DataFrame] =
    if (rows.exists(_.isNullAt(2))) None
    else {
      val node = nodeField(e, "src", "dst")
      val g = LocalGraph(rows, node.dataType)
      val w = rows.map(_.getDouble(2))
      val hasOut = new Array[Boolean](g.n)
      val hasIn = new Array[Boolean](g.n)
      g.src.foreach(hasOut(_) = true)
      g.dst.foreach(hasIn(_) = true)
      // one half-step: Σ w·x over the edges into `to`'s endpoint, divided
      // by the total over the nodes that received a term
      def half(x: Array[Double], from: Array[Int], to: Array[Int],
               has: Array[Boolean]): Option[Array[Double]] = {
        val raw = new Array[Double](g.n)
        for (k <- 0 until g.m) raw(to(k)) += w(k) * x(from(k))
        var tot = 0.0
        for (i <- 0 until g.n if has(i)) tot += raw(i)
        if (tot == 0.0) None else Some(raw.map(_ / tot))
      }
      val a0 = Array.fill(g.n)(1.0 / g.n)
      val last = (1 to iters).foldLeft(Option((a0, a0))) { (st, _) =>
        for {
          (_, a) <- st
          h <- half(a, g.dst, g.src, hasOut)
          an <- half(h, g.src, g.dst, hasIn)
        } yield (h, an)
      }
      last.map { case (h, a) =>
        LocalGraph.frame(e.sparkSession,
            g.ids.indices.map(i => Row(g.ids(i),
              if (hasOut(i)) h(i) else 0.0, if (hasIn(i)) a(i) else 0.0)),
            StructType(Seq(node, StructField("h", DoubleType, nullable = false),
              StructField("a", DoubleType, nullable = false))))
          .select(col("node"), scoreOut(col("h")).as("hub"),
            scoreOut(col("a")).as("authority"))
      }
    }

  /** [[hits]]'s distributed body over the merged edge table `e` (src,
    * dst, w), which it persists: every iteration joins it twice. `bcast`
    * picks the broadcast hint and the normalizer; None, what [[hits]]
    * passes, probes |nodes| against [[NodeLimit]]. Only specs set it. */
  private[graft] def hitsDistributed(e: DataFrame, iters: Int,
      scoreOut: Column => Column, reliableEvery: Int,
      bcast: Option[Boolean] = None): DataFrame = {
    e.persist()
    val nodeTab = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().persist()
    val on = bcast.getOrElse(nodeTab.count() <= NodeLimit)
    // normalizer: within NodeLimit the vector is node-bounded, so it is
    // coalesced to ONE partition and the L1 total is a frame-local window
    // over it; above NodeLimit, the scalar aggregate + 1-row crossjoin
    // (never a partition-less window over an unbounded vector). The only
    // measured fork in the distributed bodies: at 5M edges over 400k
    // nodes, 4 iterations took 27 s this way against 50 s with the
    // aggregate + crossjoin and the same hinted joins (medians of 5
    // interleaved pairs, plans/graph_regimes/).
    def l1norm(raw: DataFrame, c: String): DataFrame =
      if (on)
        raw.select(col("node"),
          (col(c) / sum(c).over(Window.partitionBy())).as(c)).coalesce(1)
      else {
        val tot = raw.agg(sum(c).as("__tot"))
        raw.crossJoin(tot).select(col("node"), (col(c) / col("__tot")).as(c))
      }
    val n0 = nodeTab.crossJoin(nodeTab.agg(count(lit(1)).cast("double").as("__N")))
    // materialization discipline: only the FULL-iteration boundary (auth)
    // is the loop state — hub stays a lazy 1-join/1-agg function of the
    // checkpointed auth, so lineage depth is a constant 2 per round. The
    // last iteration checkpoints hub too: the final assembly reads both
    // vectors, and an un-materialized hub would re-run its edge join a
    // second time there (same total edge passes, half the jobs).
    var hub: DataFrame = null
    val auth = Ckpt.iterate(
      (if (on) n0.coalesce(1) else n0)
        .select(col("node"), (lit(1.0) / col("__N")).as("a")),
      1 to iters, reliableEvery) { (a, i) =>
      val hn = l1norm(e.join(bc(on)(a), col("dst") === col("node"))
        .groupBy(col("src").as("node")).agg(sum(col("w") * col("a")).as("h")), "h")
      hub = if (i == iters) Ckpt.step(hn, i, reliableEvery, eager = false) else hn
      l1norm(e.join(bc(on)(hub), col("src") === col("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("w") * col("h")).as("a")), "a")
    }
    nodeTab
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"),
        scoreOut(coalesce(col("h"), lit(0.0))).as("hub"),
        scoreOut(coalesce(col("a"), lit(0.0))).as("authority"))
  }

  /** Adamic–Adar link prediction over an undirected edge list: for every
    * NON-adjacent pair (u, w) sharing at least one neighbor,
    * AA(u, w) = Σ_{v ∈ N(u)∩N(w)} 1/ln(deg v) — rare shared friends
    * count more (Adamic & Adar '03). A shared neighbor has degree ≥ 2, so
    * only such centers are kept, before their weight is projected: a
    * degree-1 center has no pair, and its 1/ln(1) divides by zero (ANSI)
    * wherever the plan evaluates the weight ahead of the u < w filter.
    *
    * Wedge enumeration at the shared neighbor costs Σ_v deg(v)² — unlike
    * [[triangleStats]] the degree-ordered orientation does NOT apply,
    * because the pair (u, w) must be scored at EVERY common v, not a
    * canonical one. The scale control is `maxDegree`: wedge CENTERS
    * above it are skipped, the standard hub cap — a 10⁶-degree hub would
    * contribute 10¹² wedges of weight 1/ln(10⁶) ≈ 0.07 each, a flood of
    * near-zero evidence. Skipped hubs are still counted in every node's
    * DEGREE (the cap prunes wedge centers, never the graph). The final
    * anti-join removes already-adjacent pairs.
    *
    * Returns (node_a, node_b, n_common, aa_score), node_a < node_b. */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
                 maxDegree: Option[Long],
                 scoreOut: Column => Column): DataFrame = {
    val canon = canonEdges(edges, aCol, bCol).persist()
    val sym = symmetric(canon)
    val deg = sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("deg"))
    val wedged = deg.filter(col("deg") >= 2)
    val centers = maxDegree.fold(wedged)(cap => wedged.filter(col("deg") <= cap))
    // wedges keyed at the center v: (v, u) ⋈ (v, w), u < w — each
    // unordered pair scored once per shared neighbor
    val byCenter = sym.select(col("u").as("ctr"), col("v").as("leaf"))
      .join(centers.select(col("node").as("ctr"),
        (lit(1.0) / log(col("deg").cast("double"))).as("__w")), "ctr")
    val pairs = byCenter.select(col("ctr"), col("leaf").as("na"), col("__w"))
      .join(byCenter.select(col("ctr"), col("leaf").as("nb")), Seq("ctr"))
      .filter(col("na") < col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_common"), sum("__w").as("__aa"))
    pairs
      .join(canon, col("na") === col("u") && col("nb") === col("v"),
        "left_anti")
      .select(col("na").as("node_a"), col("nb").as("node_b"),
        col("n_common"), scoreOut(col("__aa")).as("aa_score"))
  }

  /** Synchronous label propagation (Raghavan '07) for community
    * detection, made DETERMINISTIC: every node starts labeled with its
    * own id; each superstep relabels every node with its neighbors'
    * modal label, ties broken by the SMALLEST label — the classical
    * random tiebreak replaced by a total order, so the result is a pure
    * function of the graph and an external engine (the unrolled SQL
    * oracle) replays it exactly. Fixed `iters` supersteps (synchronous
    * LPA may oscillate on bipartite structures; a fixed horizon is the
    * standard fix and keeps the oracle finite).
    *
    * Up to [[LocalEdgeLimit]] canonical edges the supersteps run on the
    * driver ([[labelPropagationLocal]]). Above it
    * ([[labelPropagationDistributed]]) a superstep is one edge⋈label
    * equi-join + one (node, label) count + one per-node argmax window —
    * all keyed on node ids, state is node-sized and lazily checkpointed
    * per superstep by [[Ckpt.iterate]] (the Pregel discipline). The label
    * state is hinted broadcast into the edge join while |nodes| ≤
    * [[NodeLimit]] (the edge table is never shuffled); above it the join
    * shuffles. The hint is the only difference between the two.
    * Returns (node, label) — nodes sharing a label are one community. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iters: Int, reliableEvery: Int = 0): DataFrame = {
    require(iters >= 1 && iters <= 20, s"1 <= iters <= 20, got $iters")
    val canon = canonEdges(edges, aCol, bCol)
    onDriver(canon)(rows => Some(labelPropagationLocal(canon, rows, iters)))
      .getOrElse(labelPropagationDistributed(canon, iters, reliableEvery))
  }

  /** [[labelPropagation]] on the driver over the collected canonical
    * edges: synchronous rounds, each node takes its neighbors' modal
    * label, ties to the smallest (node indices follow Spark's order, so
    * the smallest index is the smallest label). */
  private def labelPropagationLocal(canon: DataFrame, rows: Array[Row],
                                    iters: Int): DataFrame = {
    val node = symmetric(canon).schema("u")
    val g = LocalGraph(rows, node.dataType)
    val (off, to, _) = g.csr(both = true)
    val cnt = new Array[Int](g.n)
    var label = Array.range(0, g.n)
    for (_ <- 1 to iters) {
      val prev = label
      label = Array.tabulate(g.n) { i =>
        val nbs = off(i) until off(i + 1)
        nbs.foreach(j => cnt(prev(to(j))) += 1)
        var best = -1
        for (j <- nbs) {
          val l = prev(to(j))
          if (best < 0 || cnt(l) > cnt(best) || (cnt(l) == cnt(best) && l < best))
            best = l
        }
        nbs.foreach(j => cnt(prev(to(j))) = 0)
        best
      }
    }
    LocalGraph.frame(canon.sparkSession,
      g.ids.indices.map(i => Row(g.ids(i), g.ids(label(i)))),
      StructType(Seq(node.copy(name = "node"), node.copy(name = "label"))))
  }

  /** [[labelPropagation]]'s distributed body over the canonical edge
    * table `canon` (u < v), which it persists: both orientations read it. */
  private[graft] def labelPropagationDistributed(canon: DataFrame, iters: Int,
                                                 reliableEvery: Int): DataFrame = {
    canon.persist()
    val sym = symmetric(canon).persist()
    val nodes = sym.select(col("u").as("node")).distinct().persist()
    val bcast = nodes.count() <= NodeLimit
    val pick = Window.partitionBy("node").orderBy(col("c").desc, col("nl").asc)
    Ckpt.iterate(nodes.withColumn("label", col("node")), 1 to iters,
        reliableEvery) { (labels, _) =>
      sym
        .join(bc(bcast)(labels.select(col("node").as("v"),
          col("label").as("nl"))), "v")
        .groupBy(col("u").as("node"), col("nl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rk", row_number().over(pick))
        .filter(col("__rk") === 1)
        .select(col("node"), col("nl").as("label"))
    }
  }

  /** One-level Louvain modularity communities (Blondel, Guillaume,
    * Lambiotte & Lefebvre '08 §2), SEMI-SYNCHRONOUS deterministic
    * variant: each round the ACTIVE half of the nodes (id parity ==
    * round parity — the two-class coloring of Cordasco & Gargano's
    * semi-synchronous label propagation, '11) evaluates, in parallel,
    * the modularity gain of adopting each neighboring community (plus
    * staying put) — gain(i→C) ∝ k_{i,C} − k_i·Σ_tot(C∖i)/(2m), the
    * Blondel ΔQ with the constant 1/(2m) factored out — and adopts the
    * argmax (gain rounded to 6 decimals before ranking, community-id
    * tiebreak, so the replay is total-ordered). The classical algorithm
    * moves nodes one at a time; the parallel sweep trades that
    * sequential optimum for throughput (the trade every distributed
    * Louvain makes — Que et al. IPDPS'15), and the alternating parity
    * classes break the pairwise swap cycles a FULLY synchronous sweep
    * falls into (two singletons adopting each other forever — the
    * GraphExtraSpec fixture oscillates with period 2 without this).
    * Parity is not a proper coloring — same-parity neighbors still move
    * together — so the fixed round budget remains the hard oscillation
    * bound. Node ids must be numeric (id % 2 is the class). Unlike
    * label propagation (q330) the result carries its own quality
    * number: the returned modularity
    * Q = Σ_C [n_int(C)/m − (Σ_tot(C)/(2m))²].
    *
    * Up to [[LocalEdgeLimit]] canonical edges the sweep and the summary
    * run on the driver ([[louvainLocal]]). Above it the distributed
    * shape: per round one label-keyed Σ_tot aggregate, one edge-shaped
    * neighbor-community count, a full-outer candidate union, and a
    * per-node argmax window — all partitioned by node or label, nothing
    * corpus-global except the scalar edge-count m; the node-sized frames
    * are hinted broadcast while |nodes| ≤ [[NodeLimit]]
    * ([[louvainRound]]). Labels are lazily checkpointed per round by
    * [[Ckpt.iterate]] (the Pregel discipline, with the `reliableEvery`
    * durable-checkpoint contract).
    *
    * Returns the `topK` communities by size:
    * (community, n_nodes, n_internal, sigma_tot, modularity) —
    * modularity is the whole-partition Q, repeated per row. */
  def louvainOneLevel(edges: DataFrame, aCol: String, bCol: String,
                      rounds: Int, topK: Int, scoreOut: Column => Column,
                      reliableEvery: Int = 0): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"1 <= rounds <= 10, got $rounds")
    val canon = canonEdges(edges, aCol, bCol)
    onDriver(canon)(rows =>
        louvainLocal(canon, rows, rounds, topK, scoreOut, multiLevel = false))
      .getOrElse(louvainOneLevelDistributed(canon, rounds, topK, scoreOut,
        reliableEvery))
  }

  /** [[louvainOneLevel]]'s distributed body over the canonical edge table
    * `canon` (u < v), which it persists: the sweep and the summary read
    * it. */
  private[graft] def louvainOneLevelDistributed(canon: DataFrame, rounds: Int,
      topK: Int, scoreOut: Column => Column, reliableEvery: Int): DataFrame = {
    canon.persist()
    val (labels, bcast) = louvainSweepW(canon.withColumn("w", lit(1.0)),
      rounds, scoreOut, reliableEvery, roundOffset = 0)
    val (comm, qRow) = communitySummary(canon, labels, bcast)
    louvainOut(comm.crossJoin(broadcast(qRow)), topK,
      scoreOut(col("__q")).as("modularity"))
  }

  /** The Louvain output over a community table (label, n_nodes, n_int,
    * stot): the integral columns as longs, then `modularity`, the top
    * `topK` communities by size. */
  private def louvainOut(comm: DataFrame, topK: Int, modularity: Column*): DataFrame =
    comm
      .select(Seq(col("label").as("community"), col("n_nodes"),
        col("n_int").cast("long").as("n_internal"),
        col("stot").cast("long").as("sigma_tot")) ++ modularity: _*)
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(topK)

  /** Multi-level Louvain (Blondel '08 §2, the aggregation phase): run
    * the one-level semi-synchronous sweep, CONTRACT each community to a
    * super-node (parallel edges merge by weight sum; intra-community
    * edges become self-loops carrying their weight — a self-loop
    * contributes 2w to its super-node's weighted degree and nothing to
    * any neighbor gain), run the SAME weighted sweep on the contracted
    * graph, and compose labels back onto the original nodes. Modularity
    * of a contracted partition equals modularity of the induced
    * partition on the original graph, so both levels' Q are computed
    * where they are defined: on the original edges. The classical
    * sequential algorithm is monotone in Q by construction; a PARALLEL
    * sweep can overshoot, so this operator keeps the BETTER of the two
    * partitions (one 1-row collect per level — the bounded-scalar
    * driver-collect convention), making Q(level 2) ≥ Q(level 1) a
    * guarantee rather than a hope. The contracted graph is
    * community-sized — the level-2 sweep costs a vanishing fraction of
    * level 1 at scale. Up to [[LocalEdgeLimit]] canonical edges both
    * levels run on the driver ([[louvainLocal]]).
    *
    * Returns the `topK` level-2 communities by ORIGINAL-node count:
    * (community, n_nodes, n_internal, sigma_tot, modularity_l1,
    * modularity_l2). */
  def louvainMultiLevel(edges: DataFrame, aCol: String, bCol: String,
                        rounds: Int, topK: Int, scoreOut: Column => Column,
                        reliableEvery: Int = 0): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"1 <= rounds <= 10, got $rounds")
    val canon = canonEdges(edges, aCol, bCol)
    onDriver(canon)(rows =>
        louvainLocal(canon, rows, rounds, topK, scoreOut, multiLevel = true))
      .getOrElse(louvainMultiLevelDistributed(canon, rounds, topK, scoreOut,
        reliableEvery))
  }

  /** [[louvainMultiLevel]]'s distributed body over the canonical edge
    * table `canon` (u < v), which it persists: both levels' sweeps,
    * contraction and summaries read it. */
  private[graft] def louvainMultiLevelDistributed(canon: DataFrame, rounds: Int,
      topK: Int, scoreOut: Column => Column, reliableEvery: Int): DataFrame = {
    canon.persist()
    val spark = canon.sparkSession
    val (l1u, bcast) = louvainSweepW(canon.withColumn("w", lit(1.0)), rounds,
      scoreOut, reliableEvery, roundOffset = 0)
    val l1 = l1u.persist()
    // node-sized label frames ride the edge-shaped joins broadcast in
    // the bounded regime (the sweep's probe decides once)
    // both endpoint joins probe the SAME persisted (node, label) frame
    // via column equality (rename AFTER the first join) so the planner
    // reuses ONE broadcast exchange instead of building two (r13)
    val superE = canon
      .join(bc(bcast)(l1), col("u") === col("node"))
      .select(col("u"), col("v"), col("label").as("la"))
      .join(bc(bcast)(l1), col("v") === col("node"))
      .select(least(col("la"), col("label")).as("u"),
        greatest(col("la"), col("label")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).cast("double").as("w"))
      .persist()
    // Level-2 regime switch. The parity sweep's simultaneous moves are
    // the right trade on a node-scale graph, but on the CONTRACTED graph
    // they degenerate: community labels concentrate on one id parity and
    // same-parity super-node chains chase each other's stale labels
    // (measured on a contracted path: three super-nodes cycle for every
    // round budget, zero net moves). The contracted graph is community-
    // sized — the entire point of the aggregation phase — so up to
    // `SeqEdgeLimit` super-edges it is collected and swept with Blondel's
    // SEQUENTIAL local moving (ascending-id node order, dec6-rounded
    // gains, community-id tiebreak, move only on strict improvement →
    // every accepted move raises Q, monotone by construction); one job
    // collects it through the driver-local gate, and fills the cache the
    // sweep reads when the gate refuses. Beyond the limit the
    // distributed parity sweep runs with a keep-best guard; either way
    // Q(l2) ≥ Q(l1) is a guarantee, not a hope.
    val l2 = LocalGraph.collectAtMost(superE, SeqEdgeLimit) match {
      case Some(rows) =>
        val moved = seqLocalMoving(
          rows.map(r => (r.get(0), r.get(1), r.getDouble(2))), rounds)
        val labType = l1.schema("label").dataType
        LocalGraph.frame(spark, moved.toSeq.map { case (a, b) => Row(a, b) },
          StructType(Seq(StructField("node", labType),
            StructField("label", labType))))
      case None =>
        louvainSweepW(superE, rounds, scoreOut, reliableEvery,
          roundOffset = rounds)._1
    }
    val composed = l1.select(col("node"), col("label").as("__c1"))
      .join(bc(bcast)(l2.select(col("node").as("__c1"), col("label"))), "__c1")
      .select(col("node"), col("label"))
      .localCheckpoint(eager = false)
    val (_, q1Row) = communitySummary(canon, l1, bcast)
    val (comm2, q2Row) = communitySummary(canon, composed, bcast)
    // one driver action for both modularity scalars (was two .head jobs);
    // the crossjoin of two 1-row aggregates is driver-trivial
    val qRow2 = q1Row.select(col("__q").as("__q1"))
      .crossJoin(q2Row.select(col("__q").as("__q2"))).head
    val q1 = qRow2.getDouble(0)
    val q2 = qRow2.getDouble(1)
    // keep-best: a level-2 sweep that overshot (only possible on the
    // distributed branch) is discarded and level 1 IS the final
    // partition (then modularity_l2 = modularity_l1)
    val (commF, qF) =
      if (q2 + 1e-12 >= q1) (comm2, q2)
      else communitySummary(canon, l1, bcast)._1 -> q1
    louvainOut(commF, topK, scoreOut(lit(q1)).as("modularity_l1"),
      scoreOut(lit(qF)).as("modularity_l2"))
  }

  /** [[louvainOneLevel]] (`multiLevel = false`) or [[louvainMultiLevel]]
    * on the driver over the collected canonical edges: level 1 is
    * [[louvainSweepLocal]]; level 2 contracts the level-1 communities into
    * (least, greatest) super-edges weighted by multiplicity and runs
    * [[seqLocalMoving]] on them (up to `SeqEdgeLimit`, else the sweep
    * again with `roundOffset = rounds`); [[communityLocal]] summarizes;
    * the keep-best rule is the distributed body's. None (distributed
    * body) when the ids are not integral (the parity class is id % 2),
    * `scoreOut` does not return a double, or there is no edge. */
  private def louvainLocal(canon: DataFrame, rows: Array[Row], rounds: Int,
      topK: Int, scoreOut: Column => Column, multiLevel: Boolean): Option[DataFrame] = {
    val spark = canon.sparkSession
    val node = canon.schema("u")
    val (scoreT, score) = LocalGraph.scalar(spark, scoreOut)
    val integral = node.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral || scoreT != DoubleType || rows.isEmpty) None
    else {
      val g = LocalGraph(rows, node.dataType)
      val l1 = louvainSweepLocal(g, Array.fill(g.m)(1.0), rounds, 0, score)
      val (c1, q1) = communityLocal(g, l1)
      // (communities, modularity columns, whether the label column is
      // nullable: the distributed level-2 relabeling from seqLocalMoving
      // is a nullable column)
      val (comm, mods, nullLabel) =
        if (!multiLevel) (c1.map(c => Row(c.toSeq :+ q1: _*)),
          Seq(scoreOut(col("__q")).as("modularity")), node.nullable)
        else {
          val superW = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
          for (k <- 0 until g.m) {
            val (a, b) = (l1(g.src(k)), l1(g.dst(k)))
            superW.updateWith((math.min(a, b), math.max(a, b)))(
              w => Some(w.getOrElse(0.0) + 1.0))
          }
          val triples = superW.toArray.map { case ((a, b), w) =>
            (g.ids(a), g.ids(b), w) }
          val seq = triples.length <= SeqEdgeLimit
          val l2: Any => Any =
            if (seq) seqLocalMoving(triples, rounds)
            else {
              val sg = LocalGraph(triples.map { case (a, b, _) => Row(a, b) },
                node.dataType)
              val sl = louvainSweepLocal(sg, triples.map(_._3), rounds, rounds, score)
              id => sg.ids(sl(sg.indexOf(id)))
            }
          val (c2, q2) = communityLocal(g,
            l1.map(c => g.indexOf(l2(g.ids(c)))))
          val keep2 = q2 + 1e-12 >= q1
          val (cF, qF) = if (keep2) (c2, q2) else (c1, q1)
          (cF, Seq(scoreOut(lit(q1)).as("modularity_l1"),
            scoreOut(lit(qF)).as("modularity_l2")),
            node.nullable || (keep2 && seq))
        }
      val schema = StructType(Seq(node.copy(name = "label", nullable = nullLabel),
          StructField("n_nodes", LongType, nullable = false),
          StructField("n_int", DoubleType, nullable = false),
          StructField("stot", DoubleType)) ++
        (if (multiLevel) Nil else Seq(StructField("__q", DoubleType))))
      Some(louvainOut(LocalGraph.frame(spark,
        comm.map(r => Row(g.ids(r.getInt(0)) +: r.toSeq.tail: _*)), schema),
        topK, mods: _*))
    }
  }

  /** [[louvainSweepW]] on the driver over `g` with edge weights `w`
    * (canonical, self-loops allowed): the same parity classes (id % 2
    * against the round's parity, rounds `roundOffset + 1` to
    * `roundOffset + rounds`), candidates (neighbor communities and the
    * current one), gain `kic - deg * stotAdj / (2.0 * m)` through `score`
    * ([[LocalGraph.scalar]] of scoreOut), and tiebreak (highest score,
    * nulls last, then smallest label). Every weight is integral, so kic,
    * deg, Σ_tot and m are exact whatever the summation order. Returns
    * each node's label index. */
  private[graft] def louvainSweepLocal(g: LocalGraph, w: Array[Double], rounds: Int,
                                roundOffset: Int, score: Double => Any): Array[Int] = {
    val (off, to, edge) = g.csr(both = true)
    val wd = new Array[Double](g.n)
    val wl = new Array[Double](g.n)
    for (k <- 0 until g.m) {
      if (g.src(k) == g.dst(k)) wl(g.src(k)) += w(k)
      else { wd(g.src(k)) += w(k); wd(g.dst(k)) += w(k) }
    }
    val deg = Array.tabulate(g.n)(i => wd(i) + 2.0 * wl(i))
    val m2 = 2.0 * w.sum
    val parity = g.ids.map(id => Math.floorMod(id.asInstanceOf[Number].longValue, 2L))
    // Spark's descending double order: nulls last, NaN first, 0.0 == -0.0
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    }
    val kic = new Array[Double](g.n)
    (roundOffset + 1 to roundOffset + rounds).foldLeft(Array.range(0, g.n)) { (lab, r) =>
      val stot = new Array[Double](g.n)
      for (i <- 0 until g.n) stot(lab(i)) += deg(i)
      Array.tabulate(g.n) { i =>
        if (parity(i) != r % 2) lab(i)
        else {
          // neighbor communities (self-loops are no neighbor)
          val nbs = (off(i) until off(i + 1)).filter(to(_) != i)
          nbs.foreach(j => kic(lab(to(j))) += w(edge(j)))
          val cur = lab(i)
          def gain(c: Int): Any = score(kic(c) - deg(i) *
            (stot(c) - (if (c == cur) deg(i) else 0.0)) / m2)
          var best = cur
          var bestS = gain(cur)
          for (j <- nbs) {
            val c = lab(to(j))
            val s = gain(c)
            val o = cmp(s, bestS)
            if (o > 0 || (o == 0 && c < best)) { best = c; bestS = s }
          }
          nbs.foreach(j => kic(lab(to(j))) = 0.0)
          best
        }
      }
    }
  }

  /** [[communitySummary]] on the driver for `label` (a label index per
    * node of `g`, the unweighted canonical edges): one Row(label index,
    * n_nodes, n_int, stot) per community, and the partition's modularity
    * summed over the communities in label order. */
  private def communityLocal(g: LocalGraph, label: Array[Int]): (Seq[Row], Double) = {
    val deg = new Array[Double](g.n)
    val nNodes = new Array[Long](g.n)
    val nInt = new Array[Double](g.n)
    val stot = new Array[Double](g.n)
    for (k <- 0 until g.m) {
      deg(g.src(k)) += 1.0; deg(g.dst(k)) += 1.0
      if (label(g.src(k)) == label(g.dst(k))) nInt(label(g.src(k))) += 1.0
    }
    for (i <- 0 until g.n) { nNodes(label(i)) += 1; stot(label(i)) += deg(i) }
    val m = g.m.toDouble
    val comm = (0 until g.n).filter(nNodes(_) > 0)
    val q = comm.map(c => nInt(c) / m -
      (stot(c) / (2.0 * m)) * (stot(c) / (2.0 * m))).sum
    (comm.map(c => Row(c, nNodes(c), nInt(c), stot(c))), q)
  }

  /** Blondel's sequential local-moving pass over a collected WEIGHTED
    * canonical edge list (u ≤ v, self-loops allowed) — the level-2
    * driver-side sweep of [[louvainMultiLevel]]: nodes visited in
    * ascending id order, each adopting the strictly-best-gain neighbor
    * community (gain rounded to 6 decimals before comparison, smallest
    * community id on ties — the same total order as the distributed
    * sweep), up to `maxPasses` passes with early stop when a pass moves
    * nothing. Every accepted single move raises modularity, so the
    * result is monotone by construction. Node ids must share one
    * runtime type with a total order (the community labels do). */
  private[graft] def seqLocalMoving(triples: Array[(Any, Any, Double)],
                                    maxPasses: Int): Map[Any, Any] = {
    def rnd6(x: Double): Double =
      math.floor(x * 1e6 + graft.queries.Q.BIAS) / 1e6
    implicit val ord: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case (x: Number, y: Number) =>
          java.lang.Double.compare(x.doubleValue(), y.doubleValue())
        case _ => a.toString.compareTo(b.toString)
      }
    }
    val adj = scala.collection.mutable.Map.empty[Any,
      scala.collection.mutable.Map[Any, Double]]
    var selfW = Map.empty[Any, Double].withDefaultValue(0.0)
    var m = 0.0
    triples.foreach { case (u, v, w) =>
      m += w
      if (u == v) selfW += u -> (selfW(u) + w)
      else {
        adj.getOrElseUpdate(u, scala.collection.mutable.Map.empty)
          .updateWith(v)(o => Some(o.getOrElse(0.0) + w))
        adj.getOrElseUpdate(v, scala.collection.mutable.Map.empty)
          .updateWith(u)(o => Some(o.getOrElse(0.0) + w))
      }
    }
    val nodes = (adj.keySet ++ selfW.keySet).toSeq.sorted
    val k = nodes.map(n => n ->
      (adj.get(n).map(_.values.sum).getOrElse(0.0) + 2.0 * selfW(n))).toMap
    val label = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    val stot = scala.collection.mutable.Map(nodes.map(n => n -> k(n)): _*)
    var pass = 0
    var movedAny = true
    while (pass < maxPasses && movedAny) {
      movedAny = false
      nodes.foreach { n =>
        val cur = label(n)
        val kic = scala.collection.mutable.Map.empty[Any, Double]
        adj.getOrElse(n, scala.collection.mutable.Map.empty).foreach {
          case (nb, w) =>
            kic.updateWith(label(nb))(o => Some(o.getOrElse(0.0) + w))
        }
        def gain(c: Any): Double = {
          val adjStot = stot(c) - (if (c == cur) k(n) else 0.0)
          rnd6(kic.getOrElse(c, 0.0) - k(n) * adjStot / (2.0 * m))
        }
        val cands = (kic.keySet + cur).toSeq.sorted
        val best = cands.maxBy(c => (gain(c), c))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, ord.reverse))
        if (best != cur && gain(best) > gain(cur)) {
          stot(cur) -= k(n)
          stot.updateWith(best)(o => Some(o.getOrElse(0.0) + k(n)))
          label(n) = best
          movedAny = true
        }
      }
      pass += 1
    }
    label.toMap
  }

  /** DOULION global-triangle-count estimate (Tsourakakis, Kang &
    * Faloutsos, KDD'09): keep each canonical edge with probability
    * p = keepPct/100 via a DETERMINISTIC md5-derived coin (cross-engine
    * replayable — the q66 hash convention), count triangles EXACTLY on
    * the sparsified graph with the same degree-ordered census, and
    * correct by p⁻³ (a triangle survives iff its three edges all
    * survive, independently under the hash coin). The estimator is
    * unbiased; the independence approximation puts relative σ at
    * ≈ sqrt((p³)⁻¹ − 1)/sqrt(T), and triangles SHARING edges add
    * positive covariance on top (the paper's §4 caveat — on the dense
    * co-activity gate graph one p = 0.5 draw lands ~29% high against
    * q246's exact 1003, within that inflated band). p is the
    * accuracy/cost knob. Complementary to [[triangleStats]]'s
    * `maxDegree` cap: the cap changes the EXPONENT by excluding hubs
    * exactly; DOULION keeps every node in scope (hub triangles counted
    * in expectation) at a p² constant-factor discount on wedge work.
    * At 100 TB: cap when celebrity coefficients are noise, DOULION when
    * the global count itself is the product.
    *
    * Returns one row: (keep_pct, n_edges_sampled, n_tri_sampled,
    * est_triangles). */
  def triangleCountDoulion(edges: DataFrame, aCol: String, bCol: String,
                           keepPct: Int,
                           scoreOut: Column => Column): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100,
      s"1 <= keepPct <= 100, got $keepPct")
    val canon = canonEdges(edges, aCol, bCol)
    val coin = conv(substring(md5(concat(col("u").cast("string"), lit(":"),
      col("v").cast("string"))), 1, 6), 16, 10).cast("long") % 100
    val kept = canon.filter(coin < keepPct).persist()
    val triCnt = triangleStats(kept, "u", "v", scoreOut = identity)
      .agg((sum("n_triangles") / lit(3)).cast("long").as("n_tri_sampled"))
    val p3 = lit(keepPct / 100.0) * lit(keepPct / 100.0) * lit(keepPct / 100.0)
    kept.agg(count(lit(1)).as("n_edges_sampled"))
      .crossJoin(broadcast(triCnt))
      .select(lit(keepPct).as("keep_pct"),
        col("n_edges_sampled"),
        coalesce(col("n_tri_sampled"), lit(0L)).as("n_tri_sampled"),
        scoreOut(coalesce(col("n_tri_sampled"), lit(0L)).cast("double") / p3)
          .as("est_triangles"))
  }

  /** Canonical undirected edge set: u < v, loops dropped, deduped. */
  private[graft] def canonEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Both orientations of a canonical (u, v) edge set: every undirected
    * edge once as (u, v) and once as (v, u). */
  private def symmetric(canon: DataFrame): DataFrame =
    canon.unionAll(canon.select(col("v").as("u"), col("u").as("v")))

  /** The semi-synchronous Louvain sweep of [[louvainOneLevel]],
    * generalized to WEIGHTED canonical edges (u ≤ v, self-loops allowed
    * — the contracted-graph shape): edge weight replaces edge count in
    * the degree, Σ_tot and k_{i,C} sums; a self-loop contributes 2w to
    * its node's weighted degree (standard convention — it is both
    * endpoints) and nothing to any neighbor-community gain. With w ≡ 1
    * and no loops this is EXACTLY the one-level sweep (sums of ones are
    * counts, bit-for-bit). `roundOffset` keeps parity classes and
    * checkpoint indices distinct across levels. */
  private[graft] def louvainSweepW(canonW: DataFrame, rounds: Int,
                            scoreOut: Column => Column, reliableEvery: Int,
                            roundOffset: Int): (DataFrame, Boolean) = {
    val nonLoop = canonW.filter(col("u") =!= col("v"))
    val loops = canonW.filter(col("u") === col("v"))
      .groupBy(col("u").as("node")).agg(sum("w").as("__wl"))
    val sym = nonLoop.select(col("u"), col("v"), col("w"))
      .unionAll(nonLoop.select(col("v").as("u"), col("u").as("v"), col("w")))
      .persist()
    val nodes = canonW.select(col("u").as("node"))
      .unionAll(canonW.select(col("v").as("node"))).distinct().persist()
    val deg = nodes
      .join(sym.groupBy(col("u").as("node")).agg(sum("w").as("__wd")),
        Seq("node"), "left")
      .join(loops, Seq("node"), "left")
      .select(col("node"), (coalesce(col("__wd"), lit(0.0)) +
        lit(2.0) * coalesce(col("__wl"), lit(0.0))).as("deg"))
    // m is CONSTANT across rounds: collect the scalar once and inline it
    // as a literal — the former per-round crossJoin(broadcast(mRow))
    // rebuilt a broadcast exchange (one scheduler job) every round for
    // the same number (r13 job-count-floor cut). Exact regardless of
    // partial-sum order: every weight is integral (1.0 per canonical
    // edge at level 1; contraction weights are edge counts), so the
    // double sum is exact up to 2^53 — the same value the unrolled
    // oracle's mm.m scalar computes.
    // ... and it rides the SAME driver action as the broadcast hint's
    // node count (two 1-row aggregates crossjoined — the communitySummary
    // q1/q2 trick): one scheduler job where r13 had two (m probe + count)
    val probeRow = canonW.agg(sum("w").as("m"))
      .crossJoin(nodes.agg(count(lit(1)).as("__n"))).first()
    val mVal = probeRow.getDouble(0)
    // The broadcast hint (the [[pageRank]] convention): the label state
    // is node-sized; when it fits an executor, shipping it into the edge
    // join broadcast beats shuffling the edge table — the count on the
    // persisted node table decides. Above the limit every node-keyed
    // join shuffles (web-scale regime).
    val bcast = probeRow.getLong(1) <= NodeLimit
    // the label state CARRIES the node's static weighted degree: the
    // per-round Σ_tot aggregate and the gain scoring read it off the
    // state instead of re-joining the degree table every round (two
    // node-keyed joins per round removed — post-localCheckpoint the
    // node-sized state has no stats and those joins planned as full
    // SortMergeJoins). Rounds continue at roundOffset + 1, so parity
    // classes and checkpoint indices stay distinct across levels.
    val init = nodes.join(deg, "node")
      .select(col("node"), col("node").as("label"), col("deg"))
    val labels = Ckpt.iterate(init,
        roundOffset + 1 to roundOffset + rounds, reliableEvery) { (lab, r) =>
      val active = (r % 2).toLong
      val isActive = pmod(col("node").cast("long"), lit(2L)) === active
      val moved = louvainRound(sym, lab, active, mVal, scoreOut, bcast)
      // coalesce BEFORE the checkpoint: the union's partition count is
      // moved's (one exchange worth) PLUS the previous checkpoint's —
      // uncoalesced it grows by a full exchange width every round
      // (profiled: 64→96→128→160→192-task stages by round 4 for a
      // node-sized label state, pure scheduling overhead). Narrow merge,
      // no shuffle; the node-sized state re-spreads at the next round's
      // exchange anyway.
      moved.unionByName(lab.filter(!isActive))
        .coalesce(canonW.sparkSession.sparkContext.defaultParallelism)
    }
    (labels.select("node", "label"), bcast)
  }

  /** One semi-synchronous Louvain round over the symmetric weighted edge
    * view `sym` and the label state `lab` (node, label, deg) — exposed
    * (pre-checkpoint) so GraphOpsSpec can pin its plan, the
    * [[pageRankStep]] convention. Candidate set = neighbor communities ∪
    * {current}, built as ONE partial-aggregated sum: the stay row rides
    * the union as a kic=0.0 term (x + 0.0 is exact for every IEEE double,
    * and an empty neighbor sum lands on 0.0 exactly as a coalesce would).
    * Σ_tot is one label-keyed aggregate (partially aggregated, so one
    * mega-community never pins a single task), joined back with the
    * active nodes' (label, deg). `bcast` only hints the three node-sized
    * frames (the label state, the active nodes, Σ_tot) broadcast into
    * their joins. */
  private[graft] def louvainRound(sym: DataFrame, lab: DataFrame,
      active: Long, mVal: Double, scoreOut: Column => Column,
      bcast: Boolean): DataFrame = {
    val isActive = pmod(col("node").cast("long"), lit(2L)) === active
    val act = lab.filter(isActive)
    val stot = lab.groupBy("label").agg(sum("deg").as("stot"))
    val counted = sym
      .filter(pmod(col("u").cast("long"), lit(2L)) === active)
      .join(bc(bcast)(lab.select(col("node").as("v"), col("label").as("nl"))), "v")
      .select(col("u").as("node"), col("nl"), col("w").as("kic"))
      .unionByName(act.select(col("node"), col("label").as("nl"),
        lit(0.0).as("kic")))
      .groupBy("node", "nl").agg(sum("kic").as("kic"))
    val stotAdj = col("stot") -
      when(col("nl") === col("label"), col("deg")).otherwise(lit(0.0))
    val scored = counted
      .join(bc(bcast)(act.select(col("node"), col("label"), col("deg"))), "node")
      .join(bc(bcast)(stot.select(col("label").as("nl"), col("stot"))), "nl")
      .withColumn("__s", scoreOut(
        col("kic") - col("deg") * stotAdj / (lit(2.0) * lit(mVal))))
    val pick = Window.partitionBy("node")
      .orderBy(col("__s").desc, col("nl").asc)
    scored.withColumn("__rk", row_number().over(pick))
      .filter(col("__rk") === 1)
      .select(col("node"), col("nl").as("label"), col("deg"))
  }

  /** Per-community (n_nodes, n_int, stot) frame + 1-row modularity of a
    * labeling over the UNWEIGHTED canonical edge set — shared by the
    * one-level and multi-level summaries (level-2 quality is computed
    * where it is defined: on the original edges). */
  private def communitySummary(canon: DataFrame, labels: DataFrame,
                               bcast: Boolean): (DataFrame, DataFrame) = {
    // in the bounded regime the node-sized label frame enters the
    // edge-shaped joins broadcast (post-localCheckpoint it has no stats,
    // so those joins would otherwise plan as full SortMergeJoins)
    val deg = symmetric(canon).groupBy(col("u").as("node"))
      .agg(count(lit(1)).cast("double").as("deg"))
    val mRow = canon.agg(count(lit(1)).cast("double").as("m"))
    val nNodes = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    // all three label-frame consumers probe the SAME (node, label)
    // projection via column equality (rename AFTER the first join) so
    // the planner reuses ONE broadcast exchange instead of building
    // three (the kCore twin-semi-join trick, r13). Σ_tot's sum is
    // join-order-independent (integral degrees), so probing deg⋈labNL
    // instead of labels⋈deg is value-identical.
    val labNL = labels.select(col("node"), col("label"))
    val stotF = deg.join(bc(bcast)(labNL), "node")
      .groupBy("label").agg(sum("deg").as("stot"))
    val internal = canon
      .join(bc(bcast)(labNL), col("u") === col("node"))
      .select(col("u"), col("v"), col("label").as("la"))
      .join(bc(bcast)(labNL), col("v") === col("node"))
      .filter(col("la") === col("label"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).cast("double").as("n_int"))
    // persisted: every caller reads comm twice (the 1-row modularity
    // aggregate AND the final community frame) — unpersisted, the three
    // label joins re-execute per consumer. Community-sized, so the
    // cache is trivially small. The label-keyed assembly joins ride the
    // regime broadcast too (community count ≤ node count ≤ the probed
    // bound; post-checkpoint lineage has no stats, so unhinted they
    // plan as SortMergeJoins — two exchanges + sorts each, r13b).
    val comm = nNodes.join(bc(bcast)(stotF), "label")
      .join(bc(bcast)(internal), Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("n_int"), lit(0.0)).as("n_int"), col("stot"))
      .persist()
    val qRow = comm.crossJoin(broadcast(mRow))
      .agg(sum(col("n_int") / col("m") -
        (col("stot") / (lit(2.0) * col("m"))) *
          (col("stot") / (lit(2.0) * col("m")))).as("__q"))
    (comm, qRow)
  }

  /** k-core of an undirected graph: the maximal subgraph where every
    * node keeps degree ≥ k, by the standard iterative peel — drop
    * sub-k nodes, recompute degrees on the induced subgraph, repeat to
    * fixpoint (Seidman '83; convergence ≤ #nodes rounds, in practice a
    * handful), at most `maxRounds` rounds. Up to [[LocalEdgeLimit]]
    * canonical edges the peel runs on the driver ([[kCoreLocal]]). Above
    * it ([[kCoreDistributed]]) each round is one degree aggregate + two
    * semi-joins, all keyed on node ids; surviving-edge state is
    * [[Ckpt.step]]-materialized per round (the Pregel discipline — and
    * the same `reliableEvery` fault contract). The per-round `count()` on
    * the node-sized degree table is the fixpoint test — one scalar job
    * per round, the honest cost of a data-dependent loop.
    *
    * Returns the surviving (node, degree) — degree within the core. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 50, reliableEvery: Int = 0): DataFrame = {
    require(k >= 1, s"k >= 1, got $k")
    val canon = canonEdges(edges, aCol, bCol)
    onDriver(canon)(rows => Some(kCoreLocal(canon, rows, k, maxRounds)))
      .getOrElse(kCoreDistributed(canon, k, maxRounds, reliableEvery))
  }

  /** [[kCore]]'s peel on the driver over the collected canonical edges,
    * round-synchronous like the distributed body: a round keeps the
    * nodes of degree ≥ k, stops when that count repeats or is zero, and
    * otherwise drops every edge with an endpoint outside the kept set. */
  private def kCoreLocal(canon: DataFrame, rows: Array[Row], k: Int,
                         maxRounds: Int): DataFrame = {
    val node = nodeField(canon, "u", "v")
    val g = LocalGraph(rows, node.dataType)
    val alive = Array.fill(g.m)(true)
    def degrees: Array[Long] = {
      val d = new Array[Long](g.n)
      for (e <- 0 until g.m if alive(e)) { d(g.src(e)) += 1; d(g.dst(e)) += 1 }
      d
    }
    var deg = degrees
    var keepCount = -1L
    var round = 1
    var done = false
    while (round <= maxRounds && !done) {
      val n = deg.count(_ >= k).toLong
      if (n == keepCount || n == 0) done = true
      else {
        keepCount = n
        val d = deg
        for (e <- 0 until g.m) alive(e) &&= d(g.src(e)) >= k && d(g.dst(e)) >= k
        deg = degrees
      }
      round += 1
    }
    LocalGraph.frame(canon.sparkSession,
      g.ids.indices.filter(deg(_) >= k).map(i => Row(g.ids(i), deg(i))),
      StructType(Seq(node, StructField("degree", LongType, nullable = false))))
  }

  /** [[kCore]]'s distributed body over the canonical edge table `canon`
    * (u < v), which it persists: the first degree count and the first
    * peel read it. */
  private[graft] def kCoreDistributed(canon: DataFrame, k: Int, maxRounds: Int,
                                      reliableEvery: Int): DataFrame = {
    canon.persist()
    var e = canon
    var keepCount = -1L
    var round = 1
    var deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    var done = false
    // one-generation-late unpersist (the BPE lagged discipline): the
    // surviving-edge checkpoint is LAZY, so round i's keep-set is only
    // consumed when round i+1's fixpoint count materializes it — release
    // the PREVIOUS round's keep right after that count, never before
    var prevKeep: Option[DataFrame] = None
    while (round <= maxRounds && !done) {
      val keep = deg.filter(col("degree") >= k).persist()
      val n = keep.count() // also materializes the previous round's lazy e
      prevKeep.foreach(_.unpersist())
      prevKeep = Some(keep)
      if (n == keepCount || n == 0) done = true
      else {
        keepCount = n
        // the fixpoint count doubles as the broadcast-regime probe (the
        // [[pageRank]] convention, zero extra jobs): a keep-set that fits
        // an executor rides both semi-joins broadcast, so the surviving
        // edge table is filtered in place instead of shuffled twice per
        // peel round; above the limit the semi-joins shuffle as before.
        // Both semi-joins probe the SAME un-projected keep frame (column
        // equality instead of per-side renames) so the planner reuses ONE
        // broadcast exchange per round instead of building two (r13).
        val keepNodes = bc(n <= NodeLimit)(keep.select("node"))
        e = Ckpt.step(
          e.join(keepNodes, col("u") === col("node"), "left_semi")
            .join(keepNodes, col("v") === col("node"), "left_semi"),
          round, reliableEvery, eager = false)
        deg = e.select(col("u").as("node"))
          .unionAll(e.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree"))
      }
      round += 1
    }
    // the final consumer recomputes keep from the checkpointed edge state
    // if the last round's e never materialized — correctness unaffected
    prevKeep.foreach(_.unpersist())
    deg.filter(col("degree") >= k)
  }
}
