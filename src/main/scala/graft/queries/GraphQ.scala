package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Q.{dec4, dec6, r4, r6}
import scala.collection.immutable.ListMap

/** Graph-analytics gate entries split out of ExtrasQ (round-9 hygiene):
  * triangle census, item-CF neighbors, co-engagement projection, and
  * association rules. (The nation-trade PageRank q233 lives with its
  * TPC-H join pipeline in Relational.) */
object GraphQ {

  val queries: ListMap[String, Q] = ListMap(


    // Co-activity triangle census: users active in the same (hour, type,
    // k-decile) bucket form an undirected edge; per-user triangle count
    // and local clustering coefficient via GraphOps' degree-ordered wedge
    // join (oriented out-degree O(sqrt m) — the orientation, not the
    // count, is what survives a celebrity node at 100 TB). The oracle
    // re-counts with the id-only orientation: the triangle SET is
    // orientation-invariant, only the enumeration cost isn't.
    // Bench note: ~5.5 s at sf0.1 is the O(m^1.5) wedge table doing real
    // work — the 150-user panel makes the co-activity graph DENSE (1.5k
    // nodes, 130k edges, mean degree ~173 → ~5.5M wedges enumerated +
    // closed). Profiled: events scan+distinct ~2.3 s, wedge+close the
    // rest; no partition-less stage anywhere. At production sparsity
    // (bounded users per bucket) the wedge table shrinks quadratically
    // with degree; the panel density is a gate artifact, not a plan
    // defect.
    "q246_triangle_census" -> Q(
      (s, d) => graft.operators.GraphOps.triangleStats(
          coActivityEdges(s, d), "ua", "ub", dec6)
        .orderBy("node"),
      Some(s"""WITH b AS (SELECT DISTINCT date_trunc('hour', ts) AS h,
              |  event_type AS t,
              |  CAST(json_extract_string(props, '$$.k') AS INT) // 10 AS kd,
              |  user_id AS u FROM events),
              |e AS (SELECT DISTINCT a.u AS u, b2.u AS v FROM b a JOIN b b2
              |  ON a.h = b2.h AND a.t = b2.t AND a.kd = b2.kd AND a.u < b2.u),
              |deg AS (SELECT node, count(*) AS degree FROM
              |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
              |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              |  FROM e e1 JOIN e e2 ON e1.v = e2.u
              |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
              |tn AS (SELECT node, count(*) AS n_tri FROM
              |  (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
              |   UNION ALL SELECT c FROM tri) GROUP BY node)
              |SELECT deg.node, deg.degree,
              |  coalesce(tn.n_tri, 0) AS n_triangles,
              |  ${r6("CASE WHEN deg.degree >= 2 THEN 2.0 * coalesce(tn.n_tri, 0) / (deg.degree * (deg.degree - 1.0)) ELSE 0.0 END")} AS clustering
              |FROM deg LEFT JOIN tn USING (node)
              |ORDER BY node""".stripMargin)),


    // Hub-capped triangle census — q246's 100 TB path as a gated
    // contract (the q322 Adamic-Adar precedent, closing q246's honest
    // density-quadratic scale grade): nodes whose full-graph degree
    // exceeds 150 are dropped and the census runs EXACTLY on the induced
    // non-hub subgraph. On a uniformly dense graph no orientation bounds
    // wedge volume (q246 measured exponent 2.0 at 3× density); the cap
    // restores n·cap² ≤ linear-in-m wedge work, trading away only
    // celebrity coefficients that are ≈ 0 anyway. The sf0.01 gate graph
    // tops out at degree 28, so the oracle — which MIRRORS the cap —
    // checks the capped machinery on a graph where capped ≡ exact; the
    // 3× ScaleProbe is where the cap visibly bites (and where q246
    // exhibits the quadratic this entry retires).
    "q345_triangle_core" -> Q(
      (s, d) => graft.operators.GraphOps.triangleStats(
          coActivityEdges(s, d), "ua", "ub", dec6, maxDegree = Some(150L))
        .orderBy("node"),
      Some(s"""WITH $sqlCoActivity,
              |deg0 AS (SELECT node, count(*) AS dg FROM
              |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
              |  GROUP BY node),
              |keep AS (SELECT node FROM deg0 WHERE dg <= 150),
              |ec AS (SELECT e.u, e.v FROM e
              |  JOIN keep ka ON e.u = ka.node
              |  JOIN keep kb ON e.v = kb.node),
              |deg AS (SELECT node, count(*) AS degree FROM
              |  (SELECT u AS node FROM ec UNION ALL SELECT v FROM ec)
              |  GROUP BY node),
              |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              |  FROM ec e1 JOIN ec e2 ON e1.v = e2.u
              |  JOIN ec e3 ON e3.u = e1.u AND e3.v = e2.v),
              |tn AS (SELECT node, count(*) AS n_tri FROM
              |  (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
              |   UNION ALL SELECT c FROM tri) GROUP BY node)
              |SELECT deg.node, deg.degree,
              |  coalesce(tn.n_tri, 0) AS n_triangles,
              |  ${r6("CASE WHEN deg.degree >= 2 THEN 2.0 * coalesce(tn.n_tri, 0) / (deg.degree * (deg.degree - 1.0)) ELSE 0.0 END")} AS clustering
              |FROM deg LEFT JOIN tn USING (node)
              |ORDER BY node""".stripMargin)),


    // DOULION triangle-count estimate (Tsourakakis KDD'09) on the same
    // co-activity graph — the OTHER 100 TB census knob beside q345's
    // hub cap: every edge kept with p = 0.5 under a deterministic
    // md5-derived coin (the q66 hash convention, so the oracle flips
    // the IDENTICAL coins), exact census on the sparsified graph, p⁻³
    // correction. The cap changes the EXPONENT by excluding hubs;
    // DOULION keeps hub triangles in expectation at a p² constant
    // discount — at production scale p shrinks as the graph grows and
    // the estimate stays unbiased (rel. σ ≈ sqrt(p⁻³ − 1)/sqrt(T)).
    // GraphOpsSpec pins keepPct = 100 ≡ exact and the coin determinism;
    // the estimate-vs-exact gap on this graph is itself visible in the
    // gate output next to q246's exact rows.
    "q348_triangle_doulion" -> Q(
      (s, d) => graft.operators.GraphOps.triangleCountDoulion(
          coActivityEdges(s, d), "ua", "ub", keepPct = 50, scoreOut = dec6),
      Some(s"""WITH $sqlCoActivity,
              |kept AS (SELECT u, v FROM e
              |  WHERE CAST(('0x' || substring(md5(
              |    CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 6))
              |    AS BIGINT) % 100 < 50),
              |tri AS (SELECT e1.u AS a FROM kept e1
              |  JOIN kept e2 ON e1.v = e2.u
              |  JOIN kept e3 ON e3.u = e1.u AND e3.v = e2.v),
              |ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges_sampled
              |  FROM kept),
              |tc AS (SELECT CAST(count(*) AS BIGINT) AS n_tri_sampled FROM tri)
              |SELECT 50 AS keep_pct, ec.n_edges_sampled, tc.n_tri_sampled,
              |  ${r6("CAST(tc.n_tri_sampled AS DOUBLE) / (0.5 * 0.5 * 0.5)")}
              |    AS est_triangles
              |FROM ec, tc""".stripMargin)),

    // Item-item collaborative similarity ("users who touched X also
    // touched Y"): binary user×item interactions on the props content
    // key, per-pair cosine, top-5 neighbors per item. Rank runs over the
    // ROUNDED cosine with the neighbor id tiebreak on BOTH engines.
    // maxBasket = 1000 exercises the capped code path; gate baskets are
    // far smaller (≤ the distinct content-key count), so the oracle —
    // which has no cap — still matches exactly.
    "q247_item_neighbors" -> Q(
      (s, d) => graft.operators.EventOps.itemNeighbors(
          Tables.events(s, d).select(col("user_id"), col("ts"),
            get_json_object(col("props"), "$.k").cast("int").as("item")),
          "user_id", "item", k = 5, scoreOut = dec6,
          maxBasket = 1000, recencyCol = Some("ts"))
        .orderBy("item", "rn"),
      Some(s"""WITH ui AS (SELECT DISTINCT user_id AS u,
              |  CAST(json_extract_string(props, '$$.k') AS INT) AS item FROM events),
              |tot AS (SELECT item, count(*) AS n FROM ui GROUP BY item),
              |p AS (SELECT a.item AS ia, b.item AS ib, count(*) AS n_both
              |  FROM ui a JOIN ui b ON a.u = b.u AND a.item < b.item
              |  GROUP BY 1, 2),
              |sc AS (SELECT ia, ib, ta.n AS na, tb.n AS nb, n_both,
              |  ${r6("n_both / sqrt(CAST(ta.n AS DOUBLE) * tb.n)")} AS cosine
              |  FROM p JOIN tot ta ON ta.item = p.ia
              |  JOIN tot tb ON tb.item = p.ib),
              |sym AS (SELECT ia AS item, ib AS neighbor, na AS n_item,
              |    nb AS n_neighbor, n_both, cosine FROM sc
              |  UNION ALL SELECT ib, ia, nb, na, n_both, cosine FROM sc),
              |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY item
              |  ORDER BY cosine DESC, neighbor) AS INT) AS rn FROM sym)
              |SELECT item, neighbor, n_item, n_neighbor, n_both, cosine, rn
              |FROM r WHERE rn <= 5 ORDER BY item, rn""".stripMargin)),


    // Audience co-engagement: Jaccard overlap of user bases per
    // event-type pair — membership overlap, beside q192's volume
    // correlation.
    "q201_co_engagement" -> Q(
      (s, d) => graft.operators.EventOps.coEngagement(
          Tables.events(s, d), "user_id", "event_type", scoreOut = dec6)
        .orderBy("type_a", "type_b"),
      Some(s"""WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
              |tot AS (SELECT t, count(*) AS n FROM ut GROUP BY t),
              |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
              |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
              |  GROUP BY a.t, b.t)
              |SELECT p.type_a, p.type_b,
              |  ta.n AS n_users_a, tb.n AS n_users_b, p.n_both,
              |  ${r6("CAST(p.n_both AS DOUBLE) / (ta.n + tb.n - p.n_both)")} AS jaccard
              |FROM p JOIN tot ta ON ta.t = p.type_a
              |JOIN tot tb ON tb.t = p.type_b
              |ORDER BY p.type_a, p.type_b""".stripMargin)),


    // Market-basket association rules over per-user event-type sets —
    // q201's overlap counts upgraded to support/confidence/lift: which
    // behaviors predict which, and is the pairing above chance (lift>1).
    "q238_assoc_rules" -> Q(
      (s, d) => graft.operators.EventOps.assocRules(
          Tables.events(s, d), "user_id", "event_type",
          minSupport = 0.05, scoreOut = dec6)
        .orderBy("type_a", "type_b"),
      Some(s"""WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS t
              |  FROM events),
              |nu AS (SELECT CAST(count(DISTINCT u) AS DOUBLE) AS nu FROM ut),
              |tot AS (SELECT t, count(*) AS n FROM ut GROUP BY t),
              |p AS (SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
              |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
              |  GROUP BY a.t, b.t)
              |SELECT type_a, type_b, n_both,
              |  ${r6("n_both / nu.nu")} AS support,
              |  ${r6("CAST(n_both AS DOUBLE) / ta.n")} AS conf_a_to_b,
              |  ${r6("CAST(n_both AS DOUBLE) / tb.n")} AS conf_b_to_a,
              |  ${r6("n_both * nu.nu / (CAST(ta.n AS DOUBLE) * tb.n)")} AS lift
              |FROM p JOIN tot ta ON ta.t = p.type_a
              |JOIN tot tb ON tb.t = p.type_b, nu
              |WHERE n_both / nu.nu >= 0.05
              |ORDER BY type_a, type_b""".stripMargin)),

    // Supply-chain blast radius: BFS hop distance from customer 1 over
    // the bipartite customer-supplier purchase graph (suppliers offset
    // by 1e6 to disjoint the key spaces) — hop 1 = my suppliers, hop 2 =
    // their other customers, hop 3 = those customers' suppliers. Pregel
    // frontier expansion with localCheckpoint per superstep (GraphOps
    // discipline); the oracle is a recursive CTE deduped by min(hop) —
    // path-explosion-bounded by maxHops=3.
    "q287_bfs_reach" -> Q(
      (s, d) => {
        val edges = Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"),
            (col("l_suppkey") + 1000000L).as("sp"))
        graft.operators.GraphOps.bfsHops(edges, "c", "sp",
            seeds = Seq(1L), maxHops = 3)
          .orderBy("node")
      },
      Some("""WITH RECURSIVE eu AS (SELECT DISTINCT o_custkey AS s,
             |    l_suppkey + 1000000 AS d
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e AS (SELECT s, d FROM eu UNION SELECT d, s FROM eu),
             |bfs(node, hop) AS (
             |  SELECT CAST(1 AS BIGINT), 0
             |  UNION ALL
             |  SELECT e.d, bfs.hop + 1 FROM bfs JOIN e ON e.s = bfs.node
             |  WHERE bfs.hop < 3)
             |SELECT node, min(hop) AS hop FROM bfs
             |GROUP BY node ORDER BY node""".stripMargin)),

    // HITS hubs & authorities (4 iterations, L1-normalized) over the
    // event-transition graph (the q146 Markov edges: src → next event
    // type, weight = transition count): hub = "what funnels flow",
    // authority = "what flow lands on" — the directional decomposition
    // PageRank's single score can't express. The node universe is the
    // event-type vocabulary, so the merged edge list is bounded by its
    // square and the steps run on the driver (the driver-local regime).
    // Oracle: the mutual-reinforcement recursion unrolled as one CTE
    // pair per iteration.
    "q306_hits" -> Q(
      (s, d) => {
        val edges = graft.operators.EventOps.markovTransitions(
            Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
            scoreOut = identity)
          .select(col("cur_state"), col("next_state"), col("n"))
        graft.operators.GraphOps.hits(edges, "cur_state", "next_state", "n",
            iters = 4, scoreOut = dec6)
          .orderBy("node")
      },
      Some {
        // AS MATERIALIZED: each iteration references its predecessor ~4×
        // (join + scalar-subquery normalizers); inlined, the plan grows
        // 4^iters copies of the base scan and DuckDB never finishes.
        val steps = (1 to 4).map { i =>
          val pa = if (i == 1) "a0" else s"a${i - 1}"
          s"""hr$i AS MATERIALIZED (SELECT e.src AS node, sum(e.w * p.a) AS h
             |  FROM e JOIN $pa p ON e.dst = p.node GROUP BY 1),
             |h$i AS MATERIALIZED (SELECT node,
             |  h / (SELECT sum(h) FROM hr$i) AS h FROM hr$i),
             |ar$i AS MATERIALIZED (SELECT e.dst AS node, sum(e.w * p.h) AS a
             |  FROM e JOIN h$i p ON e.src = p.node GROUP BY 1),
             |a$i AS MATERIALIZED (SELECT node,
             |  a / (SELECT sum(a) FROM ar$i) AS a FROM ar$i)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH x AS (SELECT event_type AS src,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS dst FROM events),
           |e AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
           |  FROM x WHERE dst IS NOT NULL GROUP BY 1, 2),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |a0 AS (SELECT node,
           |    1.0 / (SELECT count(*) FROM nodes) AS a FROM nodes),
           |$steps
           |SELECT n.node AS node,
           |  ${r6("coalesce(h4.h, 0.0)")} AS hub,
           |  ${r6("coalesce(a4.a, 0.0)")} AS authority
           |FROM nodes n
           |LEFT JOIN h4 ON n.node = h4.node
           |LEFT JOIN a4 ON n.node = a4.node
           |ORDER BY node""".stripMargin
      }),

    // Adamic-Adar link prediction over the q246 co-activity graph: score
    // every NON-adjacent user pair by their shared-neighbor rarity mass
    // (1/ln deg per common neighbor), hub centers above degree 150
    // skipped (the documented wedge cap — near-zero evidence at
    // quadratic cost; the 150-user panel makes the graph uniformly
    // dense at sf0.1, 46M wedges uncapped vs 4.5M capped, while the
    // sf0.01 gate graph tops out at degree 28, so the cap never bites
    // where the oracle checks the uncapped math), top-200 by rounded
    // score. "Who should know each
    // other but don't yet" — the recommendation complement of q246's
    // "how clustered is what already exists".
    "q322_adamic_adar" -> Q(
      (s, d) => graft.operators.GraphOps.adamicAdar(
          coActivityEdges(s, d), "ua", "ub",
          maxDegree = Some(150L), scoreOut = dec6)
        .orderBy(col("aa_score").desc, col("node_a"), col("node_b"))
        .limit(200),
      Some(s"""WITH $sqlCoActivity,
              |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
              |deg AS (SELECT u AS node, count(*) AS deg FROM sym GROUP BY 1),
              |w AS (SELECT sym.u AS ctr, sym.v AS leaf,
              |    1.0 / ln(CAST(deg AS DOUBLE)) AS wt
              |  FROM sym JOIN deg ON sym.u = deg.node WHERE deg <= 150),
              |p AS (SELECT a.leaf AS na, b.leaf AS nb,
              |    CAST(count(*) AS BIGINT) AS n_common, sum(a.wt) AS aa
              |  FROM w a JOIN w b ON a.ctr = b.ctr AND a.leaf < b.leaf
              |  GROUP BY 1, 2)
              |SELECT na AS node_a, nb AS node_b, n_common,
              |  ${r6("aa")} AS aa_score
              |FROM p WHERE NOT EXISTS (SELECT 1 FROM e
              |  WHERE e.u = na AND e.v = nb)
              |ORDER BY aa_score DESC, node_a, node_b
              |LIMIT 200""".stripMargin)),

    // 2-core of the co-activity graph: iterative peel to the maximal
    // subgraph of everywhere-degree>=2 — strips pendant users whose only
    // co-activity is one partner, leaving the mutually-embedded
    // community (Seidman '83). The loop is data-dependent but the peel
    // is IDEMPOTENT at its fixpoint, so the oracle (rows-only →
    // hash-green in round 12) unrolls a fixed 8 rounds — comfortably
    // past the probed depth (3 at sf0.001, 1 at sf0.01); extra rounds
    // are no-ops, and a graph that peeled deeper would surface as a
    // hash mismatch, never a silent wrong answer. GraphExtraSpec still
    // pins the peel cascade and the fixpoint contract.
    "q323_kcore" -> Q(
      (s, d) => graft.operators.GraphOps.kCore(
          coActivityEdges(s, d), "ua", "ub", k = 2)
        .orderBy("node"),
      Some {
        val rounds = (1 to 8).map { i =>
          s"""d$i AS (SELECT node, count(*) AS dg FROM
             |  (SELECT u AS node FROM e${i - 1}
             |   UNION ALL SELECT v FROM e${i - 1}) GROUP BY node),
             |k$i AS (SELECT node FROM d$i WHERE dg >= 2),
             |e$i AS MATERIALIZED (SELECT p.u, p.v FROM e${i - 1} p
             |  JOIN k$i a ON p.u = a.node
             |  JOIN k$i b ON p.v = b.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH $sqlCoActivity,
           |e0 AS MATERIALIZED (SELECT u, v FROM e),
           |$rounds
           |SELECT node, count(*) AS degree FROM
           |  (SELECT u AS node FROM e8 UNION ALL SELECT v FROM e8)
           |GROUP BY node HAVING count(*) >= 2
           |ORDER BY node""".stripMargin
      }),

    // Deterministic synchronous label propagation (4 supersteps,
    // smallest-label tiebreak) on the co-activity graph — community ids
    // per user. The classical random tiebreak is replaced by a total
    // order, so the oracle can unroll the identical 4 steps.
    "q330_label_propagation" -> Q(
      (s, d) => graft.operators.GraphOps.labelPropagation(
          coActivityEdges(s, d), "ua", "ub", iters = 4)
        .orderBy("node"),
      Some {
        val steps = (1 to 4).map { i =>
          s"""c$i AS MATERIALIZED (SELECT sym.u AS node, l.label AS nl, count(*) AS c
             |  FROM sym JOIN l${i - 1} l ON sym.v = l.node GROUP BY 1, 2),
             |l$i AS (SELECT node, nl AS label FROM (
             |  SELECT node, nl, row_number() OVER (PARTITION BY node
             |    ORDER BY c DESC, nl) AS rk FROM c$i) WHERE rk = 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $sqlCoActivity,
           |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
           |nodes AS (SELECT DISTINCT u AS node FROM sym),
           |l0 AS (SELECT node, node AS label FROM nodes),
           |$steps
           |SELECT node, label FROM l4 ORDER BY node""".stripMargin
      }),

    // One-level Louvain (Blondel '08), semi-synchronous deterministic
    // sweep on the co-activity graph: per round the id-parity-active
    // half of the nodes adopts the max-modularity-gain neighbor
    // community (dec6-rounded gain, community-id tiebreak; the
    // alternating parity classes break synchronous swap cycles), 4
    // rounds, then the top-20 communities by size with the partition's
    // modularity Q — the quality number label propagation (q330) can't
    // give. The oracle unrolls the identical 4 rounds (same rounded
    // gains, same tiebreak, same parity classes).
    // Multi-level Louvain (q337's aggregation phase, Blondel '08 §2):
    // contract level-1 communities to super-nodes (parallel edges merge
    // by weight, intra-community edges become self-loops), re-run the
    // same semi-sync weighted sweep on the community-sized graph,
    // compose labels back, and KEEP THE BETTER partition — the parallel
    // sweep can overshoot, so Q(l2) ≥ Q(l1) holds by construction (one
    // 1-row collect per level, the bounded-scalar convention). Both Q's
    // are computed on the ORIGINAL graph. Two data-dependent sweeps +
    // the keep-best branch → no SQL oracle; GraphExtraSpec pins the
    // contraction arithmetic, the monotonicity guarantee and a fixture
    // where level 2 strictly improves; the python replay re-runs both
    // levels end to end.
    "q347_louvain_multilevel" -> Q(
      (s, d) => graft.operators.GraphOps.louvainMultiLevel(
          coActivityEdges(s, d), "ua", "ub", rounds = 4, topK = 20,
          scoreOut = dec6)
        .orderBy(col("n_nodes").desc, col("community")),
      None),

    "q337_louvain" -> Q(
      (s, d) => graft.operators.GraphOps.louvainOneLevel(
        coActivityEdges(s, d), "ua", "ub", rounds = 4, topK = 20,
        scoreOut = dec6),
      Some {
        val steps = (1 to 4).map { i =>
          val act = i % 2
          s"""st$i AS MATERIALIZED (SELECT label, sum(deg) AS stot FROM c${i - 1}
             |  JOIN d USING (node) GROUP BY 1),
             |nb$i AS MATERIALIZED (SELECT sym.u AS node, l.label AS nl,
             |  CAST(count(*) AS DOUBLE) AS kic
             |  FROM sym JOIN c${i - 1} l ON sym.v = l.node
             |  WHERE sym.u % 2 = $act GROUP BY 1, 2),
             |ca$i AS MATERIALIZED (SELECT coalesce(nb.node, cu.node) AS node,
             |  coalesce(nb.nl, cu.label) AS nl, coalesce(nb.kic, 0.0) AS kic
             |  FROM nb$i nb FULL OUTER JOIN
             |  (SELECT node, label FROM c${i - 1} WHERE node % 2 = $act) cu
             |  ON nb.node = cu.node AND nb.nl = cu.label),
             |sc$i AS MATERIALIZED (SELECT ca.node, ca.nl,
             |  ${r6(s"""ca.kic - d.deg * (st.stot -
             |    CASE WHEN ca.nl = cu.label THEN d.deg ELSE 0.0 END)
             |    / (2.0 * mm.m)""")} AS s
             |  FROM ca$i ca JOIN c${i - 1} cu ON ca.node = cu.node
             |  JOIN d ON ca.node = d.node
             |  JOIN st$i st ON ca.nl = st.label, mm),
             |c$i AS MATERIALIZED (SELECT node, nl AS label FROM (SELECT node, nl,
             |  row_number() OVER (PARTITION BY node ORDER BY s DESC, nl)
             |    AS rk FROM sc$i) WHERE rk = 1
             |  UNION ALL SELECT node, label FROM c${i - 1}
             |  WHERE node % 2 <> $act)""".stripMargin
        }.mkString(",\n")
        s"""WITH $sqlCoActivity,
           |sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
           |d AS MATERIALIZED (SELECT u AS node, CAST(count(*) AS DOUBLE) AS deg
           |  FROM sym GROUP BY 1),
           |mm AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
           |c0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym),
           |$steps,
           |nn2 AS (SELECT label, count(*) AS n_nodes FROM c4 GROUP BY 1),
           |stf AS (SELECT label, sum(deg) AS stot FROM c4
           |  JOIN d USING (node) GROUP BY 1),
           |itn AS (SELECT a.label, CAST(count(*) AS DOUBLE) AS n_int
           |  FROM e JOIN c4 a ON e.u = a.node JOIN c4 b ON e.v = b.node
           |  WHERE a.label = b.label GROUP BY 1),
           |comm AS (SELECT nn2.label, nn2.n_nodes,
           |  coalesce(itn.n_int, 0.0) AS n_int, stf.stot
           |  FROM nn2 JOIN stf USING (label) LEFT JOIN itn USING (label)),
           |qq AS (SELECT sum(n_int / m - (stot / (2.0 * m))
           |  * (stot / (2.0 * m))) AS q FROM comm, mm)
           |SELECT label AS community, n_nodes,
           |  CAST(n_int AS BIGINT) AS n_internal,
           |  CAST(stot AS BIGINT) AS sigma_tot, ${r6("qq.q")} AS modularity
           |FROM comm, qq ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin
      }),
  )

  /** The q246 co-activity graph: users active in the same (hour, type,
    * k-decile) bucket form an undirected edge — shared by the triangle
    * census, Adamic-Adar and k-core entries. */
  private[graft] def coActivityEdges(s: org.apache.spark.sql.SparkSession,
                                     d: String): org.apache.spark.sql.DataFrame = {
    // spread the single-row-group scan BEFORE the per-row JSON parse:
    // unspread, date_trunc + get_json_object + the distinct's partial
    // agg run single-task (profiled 1.5 s of every census/community
    // query at sf0.1 — guide §2.5 input skew); projecting the four used
    // columns first keeps the rebalance shuffle narrow
    val b = graft.operators.Spread.ifNarrow(Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("props"), col("user_id")))
      .select(
        date_trunc("hour", col("ts")).as("h"), col("event_type").as("t"),
        (get_json_object(col("props"), "$.k").cast("int") / lit(10))
          .cast("int").as("kd"),
        col("user_id").as("u"))
      .distinct()
    b.select(col("h"), col("t"), col("kd"), col("u").as("ua"))
      .join(b.select(col("h"), col("t"), col("kd"), col("u").as("ub")),
        Seq("h", "t", "kd"))
      .filter(col("ua") < col("ub"))
      .select("ua", "ub")
  }

  /** Oracle-side mirror of [[coActivityEdges]] (the q246 CTE pair),
    * ending at `e(u, v)` with u < v. (A def, not a val — `queries` above
    * initializes first and would read a val as null.) */
  private def sqlCoActivity: String =
    s"""b AS (SELECT DISTINCT date_trunc('hour', ts) AS h,
       |  event_type AS t,
       |  CAST(json_extract_string(props, '$$.k') AS INT) // 10 AS kd,
       |  user_id AS u FROM events),
       |e AS (SELECT DISTINCT a.u AS u, b2.u AS v FROM b a JOIN b b2
       |  ON a.h = b2.h AND a.t = b2.t AND a.kd = b2.kd AND a.u < b2.u)""".stripMargin
}
