package graft

import java.sql.Timestamp
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{TimeSeriesOps, WindowOps}

/** Pipeline-level property tests (SURVEY §5b): invariants that must hold
  * for ANY series, not just the fixtures. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic sample stream from a ScalaCheck generator (the
    * scalatest-scalacheck bridge isn't in the offline cache). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll[T](g: Gen[T], n: Int = 12)(body: T => Unit): Unit =
    samples(g, n).foreach(body)

  private def whenever(c: Boolean)(body: => Unit): Unit = if (c) body

  private val seriesGen: Gen[List[Option[Double]]] =
    Gen.listOfN(40, Gen.option(Gen.choose(-1000.0, 1000.0)))

  private def toDf(vs: List[Option[Double]]) =
    vs.zipWithIndex.map { case (v, i) =>
      (new Timestamp(1700000000000L + i * 3600000L), "s", v)
    }.toDF("ts", "k", "v")

  test("property: resample-then-align preserves timeline cardinality") {
    forAll(Gen.choose(2, 200)) { (n: Int) =>
      val df = (0 until n).map(i =>
        (new Timestamp(1700000000000L + i.toLong * 137 * 60000L), i.toDouble))
        .toDF("ts", "v")
      val grid = TimeSeriesOps.timeline(df, "ts")
      val hourly = df.groupBy(date_trunc("hour", $"ts").as("ts")).agg(avg("v").as("v"))
      val joined = grid.join(hourly, Seq("ts"), "left")
      assert(joined.count() == grid.count()) // left join never drops grid slots
    }
  }

  test("property: rolling results are null exactly below min_periods") {
    forAll(Gen.zip(seriesGen, Gen.choose(2, 10))) { case (vs, minP) =>
      whenever(vs.nonEmpty) {
        val w = Window.orderBy("ts")
        val out = WindowOps.withFeatures(
            toDf(vs).withColumn("cnt", count("v").over(w.rowsBetween(-9, 0))),
            "m" -> WindowOps.rollAvg("v", 10, minP, w))
          .collect()
        out.foreach { r =>
          val cnt = r.getLong(r.fieldIndex("cnt"))
          val isNull = r.isNullAt(r.fieldIndex("m"))
          assert(isNull == (cnt < minP), s"cnt=$cnt minP=$minP")
        }
      }
    }
  }

  test("property: anomaly flags are always in {-1, 0, 1} and drop_pct >= 0 for drops") {
    forAll(seriesGen) { vs =>
      whenever(vs.nonEmpty) {
        val w = Window.orderBy("ts")
        val (_, _, flag, dropPct) = WindowOps.anomalyZ("v", w)
        val out = WindowOps.withFeatures(toDf(vs), "f" -> flag, "d" -> dropPct)
          .select("f", "d").collect()
        out.foreach { r =>
          assert(Set(-1, 0, 1).contains(r.getInt(0)))
          if (r.getInt(0) == -1) assert(r.getDouble(1) >= 0.0 || r.getDouble(1) == 0.0)
        }
      }
    }
  }

  test("property: ffill never produces a null after the first non-null") {
    forAll(seriesGen) { vs =>
      whenever(vs.exists(_.isDefined)) {
        val w = Window.orderBy("ts")
        val out = toDf(vs).select(WindowOps.ffill($"v", w).as("f")).collect()
        val firstIdx = vs.indexWhere(_.isDefined)
        out.zipWithIndex.foreach { case (r, i) =>
          if (i >= firstIdx) assert(!r.isNullAt(0), s"null at $i after first value $firstIdx")
          else assert(r.isNullAt(0))
        }
      }
    }
  }

  test("property: interpolation is bounded by neighbor values on monotone gaps") {
    forAll(Gen.zip(Gen.choose(1.0, 100.0), Gen.choose(101.0, 200.0), Gen.choose(1, 10))) {
      case (lo, hi, gap) =>
        val vs = List(Some(lo)) ++ List.fill(gap)(None) ++ List(Some(hi))
        val out = TimeSeriesOps.interpolateCol(toDf(vs), Seq("k"), "ts", "v", "o")
          .orderBy("ts").collect()
        out.foreach { r =>
          val o = r.getDouble(r.fieldIndex("o"))
          assert(o >= lo - 1e-9 && o <= hi + 1e-9)
        }
        // strictly increasing across the gap
        val series = out.map(_.getDouble(out.head.fieldIndex("o")))
        assert(series.zip(series.tail).forall { case (a, b) => a <= b + 1e-9 })
    }
  }

  private val lineGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" ")))
  private val docGen: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, lineGen).map(_.mkString("\n")))

  test("property: dupLineStats fractions are in [0,1] and zero iff all lines distinct") {
    forAll(Gen.listOfN(5, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      graft.operators.CleanOps.dupLineStats(df, "doc_id", "text").collect().foreach { r =>
        val nLines = r.getAs[Long]("n_lines")
        val nDistinct = r.getAs[Long]("n_distinct")
        val dlf = r.getAs[Double]("dup_line_frac")
        val dcf = r.getAs[Double]("dup_char_frac")
        val cdf = r.getAs[Double]("corpus_dup_frac")
        assert(nDistinct <= nLines)
        Seq(dlf, dcf, cdf).foreach(f => assert(f >= 0.0 && f <= 1.0, s"frac $f out of range"))
        assert((dlf == 0.0) == (nDistinct == nLines))
        // the doc's lines split as the operator splits them
        val lines = docs(r.getAs[Long]("doc_id").toInt).split("\n", -1)
        assert(nLines == lines.length)
        assert(nDistinct == lines.distinct.length)
      }
    }
  }

  test("property: redactPii is idempotent and c4Filter counters are consistent") {
    forAll(Gen.listOfN(4, docGen)) { docs =>
      val enriched = docs.zipWithIndex.map { case (t, i) =>
        val extra = if (i % 2 == 0) s"\nmail u$i@ex.org or 555-000$i at 10.0.0.$i" else ""
        (i.toLong, t + extra)
      }
      val df = enriched.toDF("doc_id", "text")
      val once = df.select(graft.operators.CleanOps.redactPii($"text").as("r"))
      val twice = once.select(graft.operators.CleanOps.redactPii($"r").as("r"))
      assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
      graft.operators.CleanOps.c4Filter(df, "doc_id", "text").collect().foreach { r =>
        assert(r.getAs[Int]("n_kept") <= r.getAs[Int]("n_lines"))
        if (r.getAs[Int]("doc_keep") == 1) {
          assert(r.getAs[Int]("n_kept") >= 3 && r.getAs[Int]("has_lorem") == 0)
        }
      }
    }
  }

  test("property: binned range join equals BNLJ for random intervals and bin widths") {
    import graft.operators.JoinOps
    val caseGen = Gen.zip(
      Gen.listOfN(40, Gen.choose(0L, 7200L)),                    // fact ts offsets (s)
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 7200L), Gen.choose(0L, 900L))), // (lo, len)
      Gen.oneOf(30L, 60L, 300L, 3600L))                           // bin width (s)
    forAll(caseGen, n = 8) { case (fs, ivs, binSec) =>
      val base = 1700000000000L
      val facts = fs.zipWithIndex.map { case (o, i) =>
        (i.toLong, new Timestamp(base + o * 1000)) }.toDF("fid", "ts")
      val intervals = ivs.zipWithIndex.map { case ((lo, len), i) =>
        (i.toLong, new Timestamp(base + lo * 1000), new Timestamp(base + (lo + len) * 1000))
      }.toDF("iid", "lo", "hi") // len 0 => empty interval, exercised on purpose
      def key(df: org.apache.spark.sql.DataFrame) = df.select("fid", "iid")
      val binned = JoinOps.binnedRangeJoin(facts, intervals, $"ts", $"lo", $"hi", binSec)
      val bnlj = JoinOps.pointInInterval(facts, intervals, $"ts", $"lo", $"hi", "inner")
      assert(key(binned).exceptAll(key(bnlj)).isEmpty &&
        key(bnlj).exceptAll(key(binned)).isEmpty,
        s"mismatch at bin=$binSec")
    }
  }

  test("property: minhash signature of a union is the elementwise min of signatures") {
    forAll(Gen.zip(Gen.listOfN(12, Gen.choose(Long.MinValue, Long.MaxValue)),
                   Gen.listOfN(12, Gen.choose(Long.MinValue, Long.MaxValue)))) {
      case (as, bs) =>
        graft.functions.VectorFunctions.register(spark)
        def sig(hs: Seq[Long], label: String): Seq[Long] =
          hs.map((label, _)).toDF("g", "h").groupBy("g")
            .agg(call_function("graft_minhash", $"h", lit(16)).as("s"))
            .select("s").as[Seq[Long]].head()
        val su = sig(as ++ bs, "u")
        val merged = sig(as, "a").zip(sig(bs, "b")).map { case (x, y) => math.min(x, y) }
        assert(su == merged)
    }
  }

  test("property: native token count == size(split(trim(s), \\s+)) on adversarial strings") {
    graft.functions.VectorFunctions.register(spark)
    // strings over a whitespace-heavy alphabet, plus the documented edges
    val wsAlphabet = Gen.listOf(Gen.oneOf(' ', ' ', 'a', 'b', '\t', '\n',
      '', '\f', '\r', 'x')).map(_.mkString)
    val edges = Seq("", " ", "  ", "\t", "a", " a ", "\ta b\n", "a  b",
      "\n\n", " \t ", "a\tb\nc")
    forAll(wsAlphabet, n = 20) { s0 =>
      val strs = (edges :+ s0).zipWithIndex.map { case (t, i) => (i, t) }
      val df = strs.toDF("id", "s")
      val bad = df.select(
          size(split(trim($"s"), "\\s+")).as("hof"),
          call_function("graft_token_count", $"s").as("nat"),
          $"s")
        .filter($"hof" =!= $"nat").collect()
      assert(bad.isEmpty,
        s"mismatch on ${bad.map(r => (r.getString(2), r.getInt(0), r.getInt(1))).mkString(",")}")
    }
  }
}
