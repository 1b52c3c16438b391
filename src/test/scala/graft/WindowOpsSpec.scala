package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.WindowOps

/** Hand-computed expectations for the window combinators (SURVEY §2.7). */
class WindowOpsSpec extends SparkSpec {
  import spark.implicits._

  private def w = Window.orderBy("i")

  test("rollAvg honors min_periods (null below threshold)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map(_.swap).toDF("i", "v")
    val out = WindowOps.withFeatures(df, "m" -> WindowOps.rollAvg("v", 3, 2, w))
      .select("m").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(None, Some(1.5), Some(2.0), Some(3.0)))
  }

  test("rollStdPop is population sigma (divides by n)") {
    val df = Seq(2.0, 4.0).zipWithIndex.map(_.swap).toDF("i", "v")
    val out = WindowOps.withFeatures(df, "s" -> WindowOps.rollStdPop("v", 2, 2, w))
      .select("s").collect()
    assert(out(1).getDouble(0) == 1.0) // pop sigma of {2,4} = 1, sample = sqrt(2)
  }

  test("pctChange yields null (not inf) on zero base") {
    val df = Seq(0.0, 5.0, 10.0).zipWithIndex.map(_.swap).toDF("i", "v")
    val out = WindowOps.withFeatures(df, "p" -> WindowOps.pctChange("v", 1, w))
      .select("p").collect()
    assert(out(1).isNullAt(0))       // base 0 -> null
    assert(out(2).getDouble(0) == 100.0)
  }

  test("anomalyZ flags a drop below mean-2sigma, excluding current row") {
    // 25 stable readings then a crash: trailing stats must exclude the crash
    val vals = Seq.fill(25)(100.0) :+ 10.0
    val df = vals.zipWithIndex.map(_.swap).toDF("i", "v")
    val (_, _, flag, dropPct) = WindowOps.anomalyZ("v", w)
    val out = WindowOps.withFeatures(df, "f" -> flag, "d" -> dropPct).select("f", "d").collect()
    assert(out.last.getInt(0) == -1)
    assert(math.abs(out.last.getDouble(1) - 90.0) < 1e-9) // (100-10)/100*100
    assert(out.dropRight(1).forall(_.getInt(0) == 0))
  }

  test("ffill carries last non-null; bfill mirrors") {
    val df = Seq((0, Some(1.0)), (1, None), (2, None), (3, Some(4.0)))
      .toDF("i", "v")
    val out = df.select(
      WindowOps.ffill($"v", w).as("f"),
      WindowOps.bfill($"v", w).as("b")).collect()
    assert(out.map(_.getDouble(0)).toSeq == Seq(1.0, 1.0, 1.0, 4.0))
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.0, 4.0, 4.0, 4.0))
  }

  test("savgol11o3 reproduces a cubic exactly in the interior") {
    // Savitzky-Golay of order 3 is exact on cubic polynomials
    def f(x: Int): Double = 0.5 * x * x * x - 2 * x * x + 3 * x - 7
    val df = (0 until 21).map(i => (i, f(i))).toDF("i", "v")
    val out = df.orderBy("i").select(WindowOps.savgol11o3($"v", w).as("s")).collect()
    assert(out.take(5).forall(_.isNullAt(0)))          // edges: null
    assert(out.takeRight(5).forall(_.isNullAt(0)))
    (5 until 16).foreach { i =>
      assert(math.abs(out(i).getDouble(0) - f(i)) < 1e-6, s"at $i")
    }
  }

  test("hampel flags only the spike, with hand-computed median and MAD") {
    import java.sql.Timestamp
    // linear ramp 0..8 with a +100 spike at i=4: only the spike's own
    // frame [2,3,104,5,6] trips the rule (med 5, MAD 2, dev 99 > 8.9);
    // neighbors' deviations (0 or 1) stay under 3*1.4826*MAD.
    val rows = (0 until 9).map { i =>
      val v = if (i == 4) 104.0 else i.toDouble
      ("a", new Timestamp(i * 3600000L), i.toLong, v)
    }
    val df = rows.toDF("k", "ts", "id", "v")
    val out = WindowOps.hampel(df, "k", "ts", "id", "v", half = 2, nSigmas = 3.0)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 4L && r.getDouble(2) == 104.0)
    assert(r.getDouble(3) == 5.0 && r.getDouble(4) == 2.0) // median, MAD
  }

  test("hampel: chunked execution is row-identical across chunk boundaries") {
    import java.sql.Timestamp
    // 300 rows per series, two series, spikes planted ON and AROUND the
    // chunkRows=64 boundaries (63/64/65, 127/128, 192) plus mid-chunk —
    // every halo case (pos < half feeding the previous chunk, pos >=
    // chunkRows-half feeding the next) carries real flagged rows. The
    // chunked result must equal the effectively-unchunked one row for row.
    val spikes = Set(40, 63, 64, 65, 127, 128, 192, 255)
    val rows = for (k <- Seq("a", "b"); i <- 0 until 300) yield {
      val v = if (spikes(i)) 500.0 + i else math.sin(i / 7.0) * (if (k == "a") 1 else 3)
      (k, new Timestamp(i * 60000L), i.toLong, v)
    }
    val df = rows.toDF("k", "ts", "id", "v")
    def run(c: Int) = WindowOps
      .hampel(df, "k", "ts", "id", "v", half = 12, nSigmas = 3.0, chunkRows = c)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(t => (t._1, t._2)).toSeq
    val chunked = run(64)
    val whole = run(1 << 20) // one chunk: the original single-window shape
    assert(chunked.nonEmpty && chunked.exists(t => Set(63L, 64L, 65L)(t._2)),
      "fixture must flag rows at the chunk boundary")
    assert(chunked == whole)
  }

  test("hampel: short edge frames pass through unflagged") {
    import java.sql.Timestamp
    // spike at the very first row: its frame is short (3 of 5) so it is
    // excluded from consideration entirely (interior-only contract)
    val rows = Seq(1000.0, 1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex.map {
      case (v, i) => ("a", new Timestamp(i * 3600000L), i.toLong, v)
    }
    val df = rows.toDF("k", "ts", "id", "v")
    val out = WindowOps.hampel(df, "k", "ts", "id", "v", half = 2, nSigmas = 3.0)
      .collect()
    // interior rows i=2,3: frames [1000,1,2,3,4] (med 3, dev 1, MAD 2) and
    // [1,2,3,4,5] (dev 0) — neither flagged; the edge spike never surfaces
    assert(out.isEmpty)
  }
}
