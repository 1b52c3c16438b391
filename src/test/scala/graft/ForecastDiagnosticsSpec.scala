package graft

import graft.operators.{GraphOps, SeasonalOps, StatOps}
import graft.queries.Q.dec6
import org.apache.spark.sql.functions._

/** Round-10 forecast/diagnostics operators, checked against hand-worked
  * values and independent plain-Scala replays — never against the
  * implementation's own arithmetic: HITS (Kleinberg axioms + a hand-worked
  * star), Ljung-Box (autocorrelated vs alternating series), Durbin-Watson
  * (positive vs negative residual autocorrelation), the theta backtest
  * (slope recovery + an exact SES replay), and Croston (a hand-folded
  * intermittent-demand example). */
class ForecastDiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  private def hourlyEvents(rows: Seq[(String, Int, Double)]) =
    rows.toDF("s", "hr", "v")
      .select(col("s"), (lit(1704067200L) + col("hr") * 3600L)
        .cast("timestamp").as("ts"), col("v"))

  // ---- HITS ----

  test("hits: hand-worked star — one hub, authorities split by weight") {
    // a -> b (w 3), a -> c (w 1): a is the only hub; b/c authorities split
    // 3:1 regardless of iterations (L1-normalized mutual reinforcement on a
    // star is stationary after step 1)
    val e = Seq(("a", "b", 3.0), ("a", "c", 1.0)).toDF("src", "dst", "w")
    val out = GraphOps.hits(e, "src", "dst", "w", iters = 3,
        scoreOut = identity)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(math.abs(out("a")._1 - 1.0) < 1e-12 && out("a")._2 == 0.0, out)
    assert(math.abs(out("b")._2 - 0.75) < 1e-12, out)
    assert(math.abs(out("c")._2 - 0.25) < 1e-12, out)
    assert(out("b")._1 == 0.0 && out("c")._1 == 0.0, out)
  }

  test("hits: both scores are L1 mass; parallel edges pre-merge") {
    // duplicate a->b must merge to w=2, not double-count; ring keeps every
    // node on both sides
    val e = Seq(("a", "b", 1.0), ("a", "b", 1.0), ("b", "c", 2.0),
        ("c", "a", 2.0)).toDF("src", "dst", "w")
    val rows = GraphOps.hits(e, "src", "dst", "w", iters = 4,
        scoreOut = identity).collect()
    val hubs = rows.map(_.getDouble(1)).sum
    val auths = rows.map(_.getDouble(2)).sum
    assert(math.abs(hubs - 1.0) < 1e-9 && math.abs(auths - 1.0) < 1e-9)
    // merged symmetric 3-ring with equal weights is uniform on both sides
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0 / 3) < 1e-9, r)
      assert(math.abs(r.getDouble(2) - 1.0 / 3) < 1e-9, r)
    }
  }

  test("hits: partitioned-vector regime matches the broadcast regime") {
    val e = Seq(("a", "b", 3.0), ("b", "c", 1.0), ("c", "a", 2.0),
        ("a", "c", 1.0)).toDF("src", "dst", "w")
    // the distributed body: 4 edges would take the driver-local regime
    def run(bcast: Option[Boolean]) =
      GraphOps.hitsDistributed(GraphOps.mergedEdges(e, "src", "dst", "w"),
          iters = 3, scoreOut = dec6, reliableEvery = 0, bcast = bcast)
        .orderBy("node").collect().map(r =>
          (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(run(Some(true)) == run(Some(false)))
  }

  // ---- Ljung-Box ----

  test("ljungBox: a slow sine fails the white-noise gate; alternation does not inflate Q at all lags") {
    val trend = (0 until 200).map(h =>
      ("sine", h, math.sin(h / 20.0) * 10.0))
    val out = StatOps.ljungBox(hourlyEvents(trend), "s", "ts", "v",
        maxLag = 6, crit = 12.5916, scoreOut = identity)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getInt(4))).toMap
    val (n, q, white) = out("sine")
    assert(n == 200L)
    assert(q > 100.0, s"slow sine must be wildly autocorrelated, Q=$q")
    assert(white == 0)
  }

  test("ljungBox: deterministic splitmix noise passes the white-noise gate") {
    // a raw Weyl sequence (h*c & 0xffff) FAILS here (Q ~ 288 — lag
    // correlations of a sawtooth are huge); a full avalanche mix is
    // genuinely white (Q ~ 5.7 at these params, checked in numpy)
    def mix(h0: Long): Long = {
      var z = h0 * 0x9E3779B97F4A7C15L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
      z ^= (z >>> 27); z *= 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val noise = (1 to 300).map { h =>
      ("hash", h, (mix(h + 100L) & 0xffffL).toDouble / 65536.0 - 0.5)
    }
    val out = StatOps.ljungBox(hourlyEvents(noise), "s", "ts", "v",
        maxLag = 6, crit = 12.5916, scoreOut = identity)
      .collect().head
    assert(out.getInt(4) == 1, s"hash noise must pass white-noise: $out")
  }

  // ---- Durbin-Watson ----

  test("durbinWatson: slow residual waves give DW near 0; alternation near 4") {
    // detrended by construction (slope 0): v is the residual
    val slow = (0 until 240).map(h => ("slow", h, math.sin(h / 30.0)))
    val alt = (0 until 240).map(h => ("alt", h, if (h % 2 == 0) 1.0 else -1.0))
    val out = StatOps.durbinWatson(hourlyEvents(slow ++ alt), "s", "ts", "v",
        scoreOut = identity)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getInt(5))).toMap
    val (dwSlow, rhoSlow, flagSlow) = out("slow")
    val (dwAlt, _, flagAlt) = out("alt")
    assert(dwSlow < 0.5 && flagSlow == 1, s"slow: $dwSlow")
    assert(dwAlt > 3.5 && flagAlt == 0, s"alt: $dwAlt")
    // DW ~ 2(1 - rho1) identity as implemented
    assert(math.abs(rhoSlow - (1.0 - dwSlow / 2.0)) < 1e-12)
  }

  test("durbinWatson: a gap hour drops the adjacent pair instead of differencing across it") {
    val rows = Seq(("g", 0, 1.0), ("g", 1, -1.0), ("g", 2, 1.0),
      ("g", 10, -1.0), ("g", 11, 1.0))
    val out = StatOps.durbinWatson(hourlyEvents(rows), "s", "ts", "v",
        scoreOut = identity).collect().head
    assert(out.getLong(2) == 3L, s"expected 3 adjacent pairs, got $out")
  }

  // ---- Theta backtest ----

  test("thetaBacktest: recovers the slope of a clean linear trend; exact SES replay") {
    val b = 0.5
    val xs = (0 until 120).map(h => 100.0 + b * h)
    val grid = hourlyEvents(xs.zipWithIndex.map { case (x, h) => ("lin", h, x) })
    val out = SeasonalOps.thetaBacktest(grid, "s", "ts", "v",
        alpha = 0.25, scoreOut = identity).collect().head
    // the idx moments carry epoch-scale magnitudes; cancellation leaves
    // ~1e-8 relative noise on the slope — still far inside dec6
    assert(math.abs(out.getDouble(2) - b) < 1e-6, s"slope: $out")
    // independent replay: SES levels in plain Scala, same one-step rule.
    // The implementation's slope comes from the (float) moment fit, so
    // replay with IT, not with the exact b.
    val bs = out.getDouble(2)
    var l = xs.head
    var (sumT, sumN) = (0.0, 0.0)
    for (t <- 1 until xs.length) {
      sumT += math.abs(xs(t) - (l + bs / 2.0))
      sumN += math.abs(xs(t) - xs(t - 1))
      l = 0.75 * l + 0.25 * xs(t)
    }
    val n = (xs.length - 1).toDouble
    assert(math.abs(out.getDouble(3) - sumT / n) < 1e-9, s"mae_theta: $out")
    assert(math.abs(out.getDouble(4) - sumN / n) < 1e-9, s"mae_naive: $out")
    // NOTE: on a NOISELESS trend theta legitimately loses to naive — the
    // SES level lags by (1/α−1)·b and the drift term only adds b/2 back;
    // naive is off by exactly b. Theta's value is on noisy trends (below).
  }

  test("thetaBacktest: beats naive on a noisy trend (positive skill)") {
    def mix(h0: Long): Long = {
      var z = h0 * 0x9E3779B97F4A7C15L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
      z ^= (z >>> 27); z *= 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // weak drift + wide deterministic noise: naive pays sqrt(2)·σ per
    // step, the smoothed level pays ~1.07·σ — theta's home turf
    val xs = (0 until 400).map { h =>
      10.0 + 0.02 * h + ((mix(h + 7L) & 0xffffL).toDouble / 65536.0 - 0.5) * 4.0
    }
    val grid = hourlyEvents(xs.zipWithIndex.map { case (x, h) => ("nz", h, x) })
    val out = SeasonalOps.thetaBacktest(grid, "s", "ts", "v",
        alpha = 0.25, scoreOut = identity).collect().head
    assert(out.getDouble(5) > 0.05, s"skill must be positive: $out")
  }

  // ---- Croston ----

  test("crostonForecast: hand-folded sizes and intervals") {
    // demand days 0, 2, 6 with sizes 2, 1, 4 (alpha = 0.125):
    //   z: 2 -> .875*2+.125*1 = 1.875 -> .875*1.875+.125*4 = 2.140625
    //   p: intervals [2, 4]: 2 -> .875*2+.125*4 = 2.25
    val ev = Seq(
      ("x", 0, 0, 2), ("x", 2, 0, 1), ("x", 6, 0, 4)
    ).flatMap { case (s, day, _, k) =>
      (0 until k).map(i => (s, day * 24 + i, 500.0))
    }
    val out = SeasonalOps.crostonForecast(hourlyEvents(ev), "s", "ts",
        demandFilter = col("v") >= 300.0, alpha = 0.125, scoreOut = identity)
      .collect().head
    assert(out.getInt(1) == 3, out)
    assert(out.getDouble(2) == 2.140625, out)
    assert(out.getDouble(3) == 2.25, out)
    assert(math.abs(out.getDouble(4) - 2.140625 / 2.25) < 1e-12, out)
  }

  test("crostonForecast: series with fewer than two demand days are dropped") {
    val ev = hourlyEvents(Seq(("one", 0, 500.0), ("zero", 0, 1.0)))
    val out = SeasonalOps.crostonForecast(ev, "s", "ts",
      demandFilter = col("v") >= 300.0, alpha = 0.125, scoreOut = identity)
    assert(out.count() == 0L)
  }
}
