package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{EventOps, ExperimentOps, StatOps}
import graft.queries.Q.dec6

/** Boundary semantics of the statistical operators (independent numpy
  * cross-checks live in tools/crosscheck_stats.py; these pin the closed-
  * form edges): Gini extremes, Mann-Whitney under identity, bootstrap CI
  * coverage of the point estimate, and A/B arm determinism. */
class StatOpsSpec extends SparkSpec {
  import spark.implicits._

  test("gini: all-equal units score 0; one unit holding everything scores (n-1)/n") {
    val equal = (1L to 50L).map((_, 10.0)).toDF("id", "x")
    val g0 = StatOps.giniConcentration(equal, "id", "x", dec6).head().getDouble(2)
    assert(math.abs(g0) < 1e-9, s"equal distribution gini $g0")
    val monopoly = ((1L to 49L).map((_, 0.0)) :+ (50L, 100.0)).toDF("id", "x")
    val g1 = StatOps.giniConcentration(monopoly, "id", "x", dec6).head().getDouble(2)
    assert(math.abs(g1 - 49.0 / 50.0) < 1e-6, s"monopoly gini $g1 want 0.98")
  }

  test("mann-whitney of a sample against itself: U = n^2/2, z = 0") {
    val a = (1 to 200).map(i => (i.toDouble % 37)).toDF("value")
    val r = StatOps.mannWhitneyU(a, a, "value", dec6).head()
    assert(r.getLong(0) == 200 && r.getLong(1) == 200)
    assert(math.abs(r.getDouble(2) - 200.0 * 200.0 / 2) < 1e-6, s"U ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(5)) < 1e-9, s"z ${r.getDouble(5)}")
    assert(r.getInt(6) == 0)
  }

  test("bootstrap CI brackets the point mean and is reproducible") {
    val ev = graft.sources.Tables.events(spark, sfTiny)
    val r1 = ExperimentOps.bootstrapMeanCi(ev, "value", b = 32, level = 0.95,
      idCol = "event_id", scoreOut = dec6).head()
    val (mean, lo, hi) = (r1.getDouble(1), r1.getDouble(2), r1.getDouble(3))
    assert(lo < mean && mean < hi, s"CI [$lo, $hi] must bracket $mean")
    assert(hi - lo < mean, "CI implausibly wide for this sample size")
    val r2 = ExperimentOps.bootstrapMeanCi(ev.repartition(7), "value", b = 32,
      level = 0.95, idCol = "event_id", scoreOut = dec6).head()
    assert(r1.getDouble(2) == r2.getDouble(2) && r1.getDouble(3) == r2.getDouble(3),
      "hash-drawn replicates must be partition-invariant")
  }

  test("ab arms partition users deterministically; z is 0 when arms are identical") {
    val ev = graft.sources.Tables.events(spark, sfTiny)
    val r = ExperimentOps.abTest(ev, "user_id",
      successCond = col("event_type") === "purchase" && col("value") > 100, dec6)
      .head()
    val users = ev.select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(1) == users, "arms must partition all users")
    // mirrored outcome: success independent of arm assignment parity check —
    // same cond, same data, re-run must be byte-identical
    val r2 = ExperimentOps.abTest(ev.repartition(5), "user_id",
      successCond = col("event_type") === "purchase" && col("value") > 100, dec6)
      .head()
    assert(r.toSeq == r2.toSeq, "assignment must be a pure function of user id")
  }

  test("rocAuc: perfect, reversed, random and tied orderings hit closed forms") {
    import spark.implicits._
    // perfect separation: all positives above all negatives -> AUC 1
    val perfect = Seq((0.9, 1L), (0.8, 1L), (0.2, 0L), (0.1, 0L))
      .toDF("s", "y")
    assert(StatOps.rocAuc(perfect, "s", "y", dec6).head().getDouble(3) == 1.0)
    // reversed -> AUC 0
    val rev = Seq((0.9, 0L), (0.8, 0L), (0.2, 1L), (0.1, 1L)).toDF("s", "y")
    assert(StatOps.rocAuc(rev, "s", "y", dec6).head().getDouble(3) == 0.0)
    // all scores tied -> every pair is a half-win -> AUC 0.5
    val tied = Seq((0.5, 1L), (0.5, 0L), (0.5, 1L), (0.5, 0L)).toDF("s", "y")
    val rt = StatOps.rocAuc(tied, "s", "y", dec6).head()
    assert(rt.getDouble(3) == 0.5 && rt.getLong(2) == 1L)
    // hand case: pos {3, 1}, neg {2}. pairs: (3>2)=1, (1<2)=0 -> AUC 0.5
    val hand = Seq((3.0, 1L), (1.0, 1L), (2.0, 0L)).toDF("s", "y")
    val rh = StatOps.rocAuc(hand, "s", "y", dec6).head()
    assert(rh.getLong(0) == 2 && rh.getLong(1) == 1 && rh.getDouble(3) == 0.5)
    // degenerate single-class input -> null AUC, not a crash
    val mono = Seq((0.5, 1L), (0.7, 1L)).toDF("s", "y")
    assert(StatOps.rocAuc(mono, "s", "y", dec6).head().isNullAt(3))
  }

  test("rocAucBy: each group's row is bit-identical to rocAuc on that group alone") {
    import spark.implicits._
    // mixed shapes in one frame — perfect, reversed, tied, single-class —
    // plus a pseudo-random group; the grouped pass must reproduce the
    // per-group rocAuc rows exactly (the q339 one-melted-pass contract)
    val rnd = new scala.util.Random(7)
    val rows =
      Seq(("perfect", 0.9, 1L), ("perfect", 0.8, 1L),
        ("perfect", 0.2, 0L), ("perfect", 0.1, 0L),
        ("rev", 0.9, 0L), ("rev", 0.8, 0L), ("rev", 0.2, 1L), ("rev", 0.1, 1L),
        ("tied", 0.5, 1L), ("tied", 0.5, 0L), ("tied", 0.5, 1L), ("tied", 0.5, 0L),
        ("mono", 0.5, 1L), ("mono", 0.7, 1L)) ++
      (1 to 200).map(i => ("rand",
        math.rint(rnd.nextDouble() * 20) / 20, rnd.nextInt(2).toLong))
    val df = rows.toDF("model", "s", "y").repartition(7)
    val grouped = StatOps.rocAucBy(df, "model", "s", "y", dec6)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    for (g <- Seq("perfect", "rev", "tied", "mono", "rand")) {
      val solo = StatOps.rocAuc(df.filter(col("model") === g), "s", "y", dec6)
        .head().toSeq
      assert(grouped(g) == solo, s"group $g: grouped ${grouped(g)} vs solo $solo")
    }
  }

  test("paretoFrontier: dominance, ties and duplicates on a planted plane") {
    import spark.implicits._
    val pts = Seq(
      ("g", 1L, 1, 5.0),   // frontier: nothing longer has y >= 5
      ("g", 2L, 3, 3.0),   // frontier
      ("g", 3L, 2, 3.0),   // dominated by id 2 (x 3 > 2, y equal)
      ("g", 4L, 3, 1.0),   // dominated by id 2 (same x, lower y)
      ("g", 5L, 5, 2.0),   // frontier (longest)
      ("g", 6L, 5, 2.0),   // duplicate point: also on frontier
      ("h", 7L, 1, 0.0)    // other group: trivially on its own frontier
    ).toDF("grp", "id", "x", "y")
    val got = StatOps.paretoFrontier(pts, "grp", "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 5L, 6L, 7L), s"got $got")
  }

  test("assocRules: counts, confidence and lift on a planted basket set") {
    import spark.implicits._
    // 4 users: {a,b} {a,b} {a} {b,c} -> n(a)=3, n(b)=3, n(ab)=2, n(bc)=1
    val ev = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"),
      (4L, "b"), (4L, "c"), (1L, "a") /* dup event collapses */)
      .toDF("user_id", "event_type")
    val out = EventOps.assocRules(ev, "user_id", "event_type",
        minSupport = 0.0, scoreOut = dec6)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = out(("a", "b"))
    assert(ab.getLong(2) == 2L)
    assert(ab.getDouble(3) == 0.5)                       // support 2/4
    assert(math.abs(ab.getDouble(4) - 0.666667) < 1e-9)  // conf a->b 2/3
    assert(math.abs(ab.getDouble(6) - 0.888889) < 1e-9)  // lift 2*4/(3*3)
    val bc = out(("b", "c"))
    assert(bc.getLong(2) == 1L && bc.getDouble(5) == 1.0) // conf c->b = 1
    assert(math.abs(bc.getDouble(6) - 1.333333) < 1e-6)   // lift 1*4/(3*1)
    // minSupport cut drops the 1/4-support pair
    val cut = EventOps.assocRules(ev, "user_id", "event_type",
      minSupport = 0.3, scoreOut = dec6).collect()
    assert(cut.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("a", "b")))
  }

  test("localPeaks: a hand-built series yields exactly its planted peaks") {
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // flat 10s with spikes at hours 5 and 12
    val rows = (0 until 20).map(h =>
      ("s", ts(h), if (h == 5 || h == 12) 100.0 else 10.0))
    val df = rows.toDF("event_type", "ts", "value")
    val peaks = EventOps.localPeaks(df, "event_type", "ts", "value",
      kSigma = 1.0, dec6).orderBy("h").collect()
    assert(peaks.length == 2)
    assert(peaks.map(_.getTimestamp(1).toString).toSeq ==
      Seq("2024-01-01 05:00:00.0", "2024-01-01 12:00:00.0"))
  }

  test("allanVariance: hand values at tau=1 and tau=2") {
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = Seq(0.0, 2.0, 4.0, 10.0, 10.0, 16.0).zipWithIndex
      .map { case (v, h) => ("s", ts(h), v) }
      .toDF("event_type", "ts", "value")
    val out = graft.operators.StatOps.allanVariance(df, "event_type", "ts",
        "value", Seq(1, 2), dec6)
      .collect().map(r => r.getInt(1) -> r).toMap
    // tau=1: diffs [2,2,6,0,6] → avar = 0.5·80/5 = 8
    val t1 = out(1)
    assert(t1.getLong(2) == 6L && t1.getLong(3) == 5L)
    assert(t1.getDouble(4) == 8.0 && math.abs(t1.getDouble(5) - 2.828427) < 1e-6)
    // tau=2: bucket means [1,7,13], diffs [6,6] → avar = 0.5·36 = 18
    val t2 = out(2)
    assert(t2.getLong(2) == 3L && t2.getLong(3) == 2L)
    assert(t2.getDouble(4) == 18.0)
  }

  test("gumbelReturnLevels: moments to mu/beta/levels by hand") {
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // daily maxima 10, 14, 12, 16 (two events on day 1 — max wins)
    val df = Seq((ts(1), 4.0), (ts(1), 10.0), (ts(2), 14.0), (ts(3), 12.0),
        (ts(4), 16.0))
      .map { case (t, v) => ("s", t, v) }.toDF("k", "ts", "v")
    val r = StatOps.gumbelReturnLevels(df, "k", "ts", "v", Seq(30), dec6).head()
    // m = 13, s = sqrt(20/3); beta = s*sqrt(6)/pi; mu = m - gamma*beta
    val s = math.sqrt(20.0 / 3.0)
    val beta = s * math.sqrt(6.0) / math.Pi
    val mu = 13.0 - 0.5772156649015329 * beta
    val lvl = mu - beta * math.log(-math.log(1.0 - 1.0 / 30.0))
    assert(r.getLong(1) == 4L)
    assert(math.abs(r.getDouble(2) - mu) < 1e-6, s"mu ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - beta) < 1e-6)
    assert(math.abs(r.getDouble(4) - lvl) < 1e-6)
    // return level grows with horizon: 30d < 365d on a fresh run
    val r2 = StatOps.gumbelReturnLevels(df, "k", "ts", "v", Seq(30, 365), dec6)
      .head()
    assert(r2.getDouble(5) > r2.getDouble(4))
  }

  test("welchTTest: hand moments; equal arms give t=0") {
    // arm a: 1,2,3 (m=2, var=1); arm b: 5,7 (m=6, var=2)
    val df = Seq((1.0, false), (2.0, false), (3.0, false),
      (5.0, true), (7.0, true)).map { case (v, b) => ("s", v, b) }
      .toDF("k", "v", "b")
    val r = StatOps.welchTTest(df, "k", "v", col("b"), dec6).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 6.0)
    val se = 1.0 / 3 + 2.0 / 2
    val t = -4.0 / math.sqrt(se)
    val dof = se * se / ((1.0 / 3) * (1.0 / 3) / 2 + 1.0 * 1.0 / 1)
    assert(math.abs(r.getDouble(5) - t) < 1e-6, s"t ${r.getDouble(5)} vs $t")
    assert(math.abs(r.getDouble(6) - dof) < 1e-6)
    assert(r.getInt(7) == 1)
    val same = Seq(("s", 1.0, false), ("s", 2.0, false),
      ("s", 1.0, true), ("s", 2.0, true)).toDF("k", "v", "b")
    val r2 = StatOps.welchTTest(same, "k", "v", col("b"), dec6).head()
    assert(r2.getDouble(5) == 0.0 && r2.getInt(7) == 0)
  }

  test("cramersV: perfect association gives 1, independence gives 0") {
    // perfect: a determines b
    val perfect = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2), ("z", 3))
      .toDF("a", "b")
    val r1 = StatOps.cramersV(perfect, "a", "b", dec6).head()
    assert(r1.getLong(0) == 5L && r1.getLong(1) == 3L && r1.getLong(2) == 3L)
    assert(r1.getDouble(4) == 1.0, s"V ${r1.getDouble(4)}")
    // independence: uniform 2x2 — chi2 = 0 (with the zero-cell
    // correction contributing nothing: all cells observed)
    val indep = Seq(("x", 1), ("x", 2), ("y", 1), ("y", 2)).toDF("a", "b")
    val r2 = StatOps.cramersV(indep, "a", "b", dec6).head()
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0)
  }

  test("tukeyFences: hand quartiles, fence counts, per-group isolation") {
    // series a: 0..10 plus outliers -100 and +100; q1 = 2, q3 = 8 over the
    // 13 values: positions (n-1)q = 3, 9 land exactly on sorted elements
    val a = (Seq(-100.0, 100.0) ++ (0 to 10).map(_.toDouble)).map(("a", _))
    val b = Seq(("b", 1.0), ("b", 2.0), ("b", 3.0), ("b", 4.0), ("b", 5.0))
    val out = StatOps.tukeyFences((a ++ b).toDF("k", "v"), "k", "v", 1.5, dec6)
      .collect().map(r => r.getString(0) -> r).toMap
    val ra = out("a")
    assert(ra.getLong(1) == 13L)
    assert(ra.getDouble(2) == 2.0 && ra.getDouble(3) == 8.0)
    assert(ra.getDouble(4) == -7.0 && ra.getDouble(5) == 17.0) // 2-9, 8+9
    assert(ra.getLong(6) == 1L && ra.getLong(7) == 1L)
    val rb = out("b") // q1 = 2, q3 = 4, fences -1/7 -> no outliers
    assert(rb.getDouble(2) == 2.0 && rb.getDouble(3) == 4.0)
    assert(rb.getLong(6) == 0L && rb.getLong(7) == 0L)
  }

  test("weibullInterarrival: log-moment fit by hand; zero gaps counted out") {
    def ts(sec: Int) = new Timestamp(1704067200000L + sec * 1000L)
    // gaps 1, 2, 4 s plus one duplicate timestamp (zero gap)
    val df = Seq(ts(0), ts(1), ts(3), ts(7), ts(7))
      .map(t => ("s", t)).zipWithIndex
      .map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("event_type", "ts", "event_id")
    val r = StatOps.weibullInterarrival(df, "event_type", "ts", "event_id",
      dec6).head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 1L)
    val lns = Seq(0.0, math.log(2.0), math.log(4.0))
    val m = lns.sum / 3
    val sd = math.sqrt(lns.map(x => (x - m) * (x - m)).sum / 2)
    val k = math.Pi / math.sqrt(6.0) / sd
    val lam = math.exp(m + 0.5772156649015329 / k)
    assert(math.abs(r.getDouble(3) - k) < 1e-6, s"k ${r.getDouble(3)} vs $k")
    assert(math.abs(r.getDouble(4) - lam) < 1e-6)
    assert(math.abs(r.getDouble(5) - 7.0 / 3.0) < 1e-6)
  }

  test("sequenceEntropyRate: one distinct state has no predictability (null, not a divide error)") {
    def ts(sec: Int) = new Timestamp(1704067200000L + sec * 1000L)
    // three events of one type: two a→a transitions, H = 0 and H_max = ln 1 = 0
    val df = Seq((1L, ts(0), 1L, "a"), (1L, ts(5), 2L, "a"), (1L, ts(9), 3L, "a"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = EventOps.sequenceEntropyRate(df, "user_id", "ts", "event_id",
      "event_type", dec6).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
    assert(r.isNullAt(4))
  }

  test("burstiness: all-zero gaps give null, not a divide error; a metronome gives -1") {
    def ts(sec: Int) = new Timestamp(1704067200000L + sec * 1000L)
    // key 1: three events at one instant (σ + μ = 0); key 2: gaps 4, 4, 4
    val df = (Seq.fill(3)((1L, ts(7))) ++ Seq(0, 4, 8, 12).map(s => (2L, ts(s))))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("user_id", "ts", "event_id")
    val out = EventOps.burstiness(df, "user_id", "ts", "event_id", dec6)
      .orderBy("user_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(out(0).getDouble(2) == 0.0 && out(0).isNullAt(4))
    assert(out(1).getDouble(2) == 4.0 && out(1).getDouble(4) == -1.0)
  }

  test("allanVariance: a gap contributes no phantom pair") {
    def ts(h: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // hours 0,1,3,4 — bucket 2 missing → only pairs (0,1) and (3,4)
    val df = Seq((0, 0.0), (1, 2.0), (3, 10.0), (4, 14.0))
      .map { case (h, v) => ("s", ts(h), v) }
      .toDF("event_type", "ts", "value")
    val out = graft.operators.StatOps.allanVariance(df, "event_type", "ts",
        "value", Seq(1), dec6).collect().head
    assert(out.getLong(2) == 4L && out.getLong(3) == 2L)
    assert(out.getDouble(4) == 5.0)  // 0.5·(4+16)/2
  }

  test("bhFdr: stepwise rejection rescues a test above its own cutoff") {
    // m=4, alpha=0.25 → cutoffs 0.0625, 0.125, 0.1875, 0.25.
    // z=5 → p≈0, z=2.2 → p≈0.0278, z=1.6 → p≈0.1096, z=0.5 → p≈0.617.
    // rank3's p (0.1096) < its own rank-2 cutoff? No: the BH rule takes
    // the LARGEST k with p_(k) <= k·α/m: rank3 0.1096 <= 0.1875 → k=3,
    // so ranks 1-3 all reject (rank2's p 0.0278 <= 0.125 too) and only
    // the z=0.5 test survives.
    val tests = Seq(("a", 5.0), ("b", 2.2), ("c", 1.6), ("d", 0.5))
      .toDF("k", "z")
    val out = graft.operators.ExperimentOps.bhFdr(tests, "k", "z", alpha = 0.25,
        scoreOut = dec6)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("test_key")).toSeq ==
      Seq("a", "b", "c", "d"))
    assert(out.map(_.getAs[Int]("reject")).toSeq == Seq(1, 1, 1, 0))
    // two-sided p of z=2.2 matches the textbook normal table to 4dp
    assert(math.abs(out(1).getAs[Double]("p") - 0.0278) < 5e-4)
    // no test qualifying → zero rejections (null kmax path)
    val none = graft.operators.ExperimentOps.bhFdr(
        Seq(("a", 0.1), ("b", 0.2)).toDF("k", "z"), "k", "z",
        alpha = 0.05, scoreOut = dec6).collect()
    assert(none.forall(_.getAs[Int]("reject") == 0))
  }
}
