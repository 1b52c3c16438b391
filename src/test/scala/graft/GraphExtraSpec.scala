package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{DtwOps, GraphOps}
import graft.queries.Q.dec6

/** Hand-graph fixtures for Adamic-Adar (q322), the k-core peel (q323)
  * and banded DTW (q324). */
class GraphExtraSpec extends SparkSpec {
  import spark.implicits._

  test("adamic-adar: path a-b-c scores (a,c) = 1/ln(2); adjacent pairs excluded") {
    val e = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = GraphOps.adamicAdar(e, "a", "b", None, dec6).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("node_a") == 1L && r.getAs[Long]("node_b") == 3L)
    assert(r.getAs[Long]("n_common") == 1L)
    assert(math.abs(r.getAs[Double]("aa_score") - 1.0 / math.log(2.0)) < 1e-6)
  }

  test("adamic-adar: a triangle has no non-adjacent pairs; the hub cap prunes wedge centers") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(GraphOps.adamicAdar(tri, "a", "b", None, dec6).isEmpty)
    // star: center 0 connects 1..4 → all leaf pairs share only the hub
    val star = (1L to 4L).map((0L, _)).toDF("a", "b")
    assert(GraphOps.adamicAdar(star, "a", "b", None, dec6).count() == 6)
    // cap below the hub degree (4) removes every wedge
    assert(GraphOps.adamicAdar(star, "a", "b", Some(3L), dec6).isEmpty)
  }

  test("q322 runs at sf0.001 with AQE on and off, with equal results") {
    // degree-1 wedge centers: 1/ln(1) must never be evaluated (ANSI divide)
    val q = graft.queries.Registry.all("q322_adamic_adar")
    val Seq(on, off) = Seq(true, false).map(aqe => withAqe(aqe)(q.fn(spark, sfTiny).collect().toSeq))
    assert(on.nonEmpty)
    assert(on == off)
  }

  test("k-core: pendant chain peels in cascade, the 4-clique survives k=3") {
    // 4-clique {1,2,3,4} + chain 4-5-6: peeling 6 (deg 1) exposes 5
    val e = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))).toDF("a", "b")
    val core3 = GraphOps.kCore(e, "a", "b", k = 3).orderBy("node").collect()
    assert(core3.map(_.getAs[Long]("node")).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(core3.forall(_.getAs[Long]("degree") == 3L))
    // k=2: the chain dies (6 then 5), the clique stays
    val core2 = GraphOps.kCore(e, "a", "b", k = 2).orderBy("node").collect()
    assert(core2.map(_.getAs[Long]("node")).toSeq == Seq(1L, 2L, 3L, 4L))
    // k above the max degree empties the graph
    assert(GraphOps.kCore(e, "a", "b", k = 5).isEmpty)
  }

  test("label propagation: two triangles with one bridge resolve to two communities") {
    // hand-walked 4-step sync LPA with min-label ties (see scaladoc):
    // {1,2,3} settles on label 1, {4,5,6} on label 3
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("a", "b")
    val got = GraphOps.labelPropagation(e, "a", "b", iters = 4)
      .orderBy("node").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $got")
  }

  test("louvain: two triangles with one bridge — clean split, Q = 5/14") {
    // hand-walked 4-round semi-sync sweep (parity classes; see scaladoc):
    // r1 (odd active): 1→C2 (gain 1−2·2/14), 3→C1 (tie C1/C2, min label),
    // 5→C6; r2 (even active): 4→C6 (gain 2−3·4/14); r3: 3→C2 (kic 2);
    // r4: no moves. Final {1,2,3}=C2, {4,5,6}=C6, each n_int 3, Σtot 7,
    // Q = 2·(3/7 − (7/14)²) = 5/14
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("a", "b")
    val out = GraphOps.louvainOneLevel(e, "a", "b", rounds = 4, topK = 10,
        scoreOut = dec6)
      .orderBy("community").collect()
    assert(out.map(_.getAs[Long]("community")).toSeq == Seq(2L, 6L),
      out.mkString(", "))
    out.foreach { r =>
      assert(r.getAs[Long]("n_nodes") == 3L)
      assert(r.getAs[Long]("n_internal") == 3L)
      assert(r.getAs[Long]("sigma_tot") == 7L)
      assert(math.abs(r.getAs[Double]("modularity") - 5.0 / 14.0) < 1e-5)
    }
  }

  test("louvain: partition validity and modularity self-consistency") {
    // clique {1,2,3,4} + pendant 5: whatever the sweep settles on, the
    // result must be a PARTITION (n_nodes sums to |V|) whose reported Q
    // recomputes from its own per-community columns
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L)).toDF("a", "b")
    val m = 7.0
    val rows = GraphOps.louvainOneLevel(e, "a", "b", rounds = 4, topK = 100,
      scoreOut = dec6).collect()
    assert(rows.map(_.getAs[Long]("n_nodes")).sum == 5L)
    assert(rows.map(_.getAs[Long]("sigma_tot")).sum == 14L) // = 2m
    val q = rows.map { r =>
      r.getAs[Long]("n_internal") / m -
        math.pow(r.getAs[Long]("sigma_tot") / (2.0 * m), 2)
    }.sum
    assert(math.abs(q - rows.head.getAs[Double]("modularity")) < 1e-5,
      s"recomputed $q vs ${rows.head.getAs[Double]("modularity")}")
    // determinism: a second run returns the identical frame
    val again = GraphOps.louvainOneLevel(e, "a", "b", rounds = 4, topK = 100,
      scoreOut = dec6).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("louvain multi-level: contraction strictly improves an undershot path partition") {
    // P12: the 4-round parity sweep settles at sizes (3,3,2,2,2),
    // Q1 = 0.433884; the contracted-graph sequential pass merges the
    // short segments into (5,4,3), Q2 = 0.466942 — the level-2 phase
    // must find strictly positive gain here, and the output Qs must
    // recompute from the partition's own columns
    val e = (1L to 11L).map(i => (i, i + 1)).toDF("a", "b")
    val out = GraphOps.louvainMultiLevel(e, "a", "b", rounds = 4,
        topK = 100, scoreOut = dec6).collect()
    val q1 = out.head.getAs[Double]("modularity_l1")
    val q2 = out.head.getAs[Double]("modularity_l2")
    assert(q2 > q1 + 1e-6, s"level 2 must strictly improve: $q1 -> $q2")
    assert(math.abs(q1 - 0.433884) < 1e-5 && math.abs(q2 - 0.466942) < 1e-5)
    assert(out.map(_.getAs[Long]("n_nodes")).sum == 12L)
    val m = 11.0
    val qRecomp = out.map { r =>
      r.getAs[Long]("n_internal") / m -
        math.pow(r.getAs[Long]("sigma_tot") / (2.0 * m), 2)
    }.sum
    assert(math.abs(qRecomp - q2) < 1e-5, s"recomputed $qRecomp vs $q2")
  }

  test("louvain multi-level: an already-optimal partition is left alone (monotone guarantee)") {
    // chain of four bridged triangles: level 1 finds the triangles and
    // no super-node merge has positive gain — level 2 must not DEGRADE
    // the partition (Q2 == Q1, same communities as one-level)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (7L, 8L), (8L, 9L), (7L, 9L), (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 4L), (6L, 7L), (9L, 10L)).toDF("a", "b")
    val out = GraphOps.louvainMultiLevel(e, "a", "b", rounds = 4,
        topK = 100, scoreOut = dec6).collect()
    assert(out.length == 4 && out.forall(_.getAs[Long]("n_nodes") == 3L))
    assert(out.forall(r => r.getAs[Double]("modularity_l2") ==
      r.getAs[Double]("modularity_l1")))
    val one = GraphOps.louvainOneLevel(e, "a", "b", rounds = 4,
        topK = 100, scoreOut = dec6).collect()
      .map(_.getAs[Long]("community")).toSet
    assert(out.map(_.getAs[Long]("community")).toSet == one)
  }

  test("seqLocalMoving: weighted self-loops count 2w in degree, merges a chained pair graph") {
    // contracted path: A(self 2)-B(self 2)-C(self 1)-D(self 1)-E(self 1),
    // unit bridges — the exact shape the parity sweep chased labels on;
    // the sequential pass must merge the light tail without oscillating
    val triples = Array[(Any, Any, Double)](
      (1L, 1L, 2.0), (4L, 4L, 2.0), (7L, 7L, 1.0), (9L, 9L, 1.0),
      (11L, 11L, 1.0), (1L, 4L, 1.0), (4L, 7L, 1.0), (7L, 9L, 1.0),
      (9L, 11L, 1.0))
    val lab = GraphOps.seqLocalMoving(triples, maxPasses = 4)
    assert(lab.size == 5)
    // the three light tail nodes merge; the heavy pair stays apart from
    // them (hand-checked gains: 9→11 = +0.4545 first move)
    assert(lab(9L) == lab(11L), lab.toString)
  }

  test("dtw DP: repeat-tolerant alignment is free, band restriction costs") {
    assert(DtwOps.dtwBanded(Array(1, 2, 3), Array(1, 2, 2, 3), band = 2) == 0.0)
    // impulse shifted by 2: a band of 2 warps around it for free, a band
    // of 1 cannot reach the alignment and pays both mismatches
    val a = Array(0.0, 1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 0.0, 0.0, 1.0, 0.0)
    val wide = DtwOps.dtwBanded(a, b, band = 2)
    val tight = DtwOps.dtwBanded(a, b, band = 1)
    assert(wide == 0.0, s"band 2 must absorb the 2-step shift, got $wide")
    assert(tight == 2.0, s"band 1 pays both mismatches, got $tight")
  }

  test("dtwPairs: affine rescaling is invisible after z-normalization") {
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00")
    val base = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 6.0, 2.0, 7.0)
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq(("a", ts(i), v), ("b", ts(i), 10.0 * v + 5.0)) }
    val r = DtwOps.dtwPairs(rows.toDF("g", "t", "v"), "g", "t", "v",
      band = 3, scoreOut = dec6).head()
    assert(r.getAs[String]("series_a") == "a" && r.getAs[String]("series_b") == "b")
    assert(r.getAs[Long]("n_a") == 8 && r.getAs[Long]("n_b") == 8)
    // mu/sd are dec6-ROUNDED before the DP (the replay contract), so the
    // two normalizations differ at the rounding grid, not at zero
    assert(math.abs(r.getAs[Double]("dtw")) < 1e-4,
      s"z-normalized identical shapes must be ~0, got ${r.getAs[Double]("dtw")}")
  }
}
