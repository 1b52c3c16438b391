package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{KilnPipeline, KilnSources}
import graft.queries.Registry
import graft.sources.CsvIO

/** One timed step of an operation: a registry query, or one action of the
  * kiln pipeline. `ok` is false when the step threw or its output failed
  * the check. */
final case class Step(name: String, seconds: Double, ok: Boolean, detail: String)

/** What an operation sees: the session, its inputs and the span recorder. */
final case class Ctx(spark: SparkSession, inputs: File, work: File, spans: Spans, seed: Long)

trait Workload {
  /** Writes the seed's inputs into `dir`; part of every set-up trial. */
  def prepare(dir: File, seed: Long): Unit
  /** Runs operation `k` (0 is the cold one) and checks its outputs. */
  def op(ctx: Ctx, k: Int): Seq[Step]
  /** Steps whose latencies make the query percentiles. */
  def isQuery(s: Step): Boolean
  /** Extra figures a traced run reports after its operations. */
  def profile(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, refs: Refs, gen: TableGen): Workload = name match {
    case "kiln_reference" => new KilnReference(refs)
    case "graph_iterative" => new GraphIterative(refs, gen)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The registry-table generator, `gen_tables.py`, run as a child process
  * with the benchmark's Python interpreter. Its data seed is fixed, so the
  * golden query hashes hold for every run. */
final case class TableGen(python: String, script: File) {
  def write(dir: File): Unit = {
    val p = new ProcessBuilder(python, script.getPath, "--out", dir.getPath).inheritIO().start()
    val rc = p.waitFor()
    require(rc == 0, s"table generator failed (exit $rc)")
  }
}

/** `graph_iterative`: the iterative graph family on the generated
  * registry tables, one pass = its six queries in a fixed order. Each
  * query runs the way `graft.Bench` runs it: build the DataFrame, plan it,
  * drain its final plan, then release what it persisted (untimed). Each
  * phase is its own span. */
final class GraphIterative(refs: Refs, gen: TableGen) extends Workload {
  def prepare(dir: File, seed: Long): Unit = gen.write(dir)

  def isQuery(s: Step): Boolean = true

  private val firstHash = scala.collection.mutable.HashMap.empty[String, String]

  def op(ctx: Ctx, k: Int): Seq[Step] = GraphIterative.queries.map { q =>
    val t0 = ctx.spans.now()
    val res =
      try ctx.spans("harness", q)(Right(GraphIterative.run(ctx.spark, ctx.inputs, q, ctx.spans)))
      catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
    val secs = (ctx.spans.now() - t0) / 1000.0
    Session.release(ctx.spark)
    res match {
      case Left(err) => Step(q, secs, ok = false, err)
      case Right(h) =>
        val want = refs.golden.get(q).orElse(firstHash.get(q))
        firstHash.getOrElseUpdate(q, h.hash)
        if (want.forall(_ == h.hash)) Step(q, secs, ok = true, h.hash)
        else Step(q, secs, ok = false, s"hash ${h.hash} != expected ${want.get}")
    }
  }
}

object GraphIterative {
  /** Six of the family's eight queries, one per distinct superstep
    * operator of `GraphOps`: pageRank, bfsHops, hits, kCore, label
    * propagation and the multi-level Louvain sweep. The other two repeat
    * an operator: q327 runs pageRank on a word graph, q337 one Louvain
    * level, which q347 contains. */
  val queries: Seq[String] = Seq("q233_trade_pagerank", "q287_bfs_reach", "q306_hits",
    "q323_kcore", "q330_label_propagation", "q347_louvain_multilevel")

  private lazy val registry = Registry.all

  /** Construct, plan and drain one registry query over the tables in `dir`. */
  def run(spark: SparkSession, dir: File, q: String, spans: Spans): ContentHash.Result = {
    val f = registry.getOrElse(q, throw new NoSuchElementException(s"$q is not in the registry")).fn
    val df = spans("queries", "construct")(f(spark, dir.getAbsolutePath))
    spans("plans", "plan")(df.queryExecution.executedPlan)
    spans("operators", "drain")(ContentHash.drain(df))
  }
}

/** The kiln pipeline's six inputs, loaded with explicit schemas. */
final case class KilnInputs(zone: DataFrame, qrt: DataFrame, shell: DataFrame, air: DataFrame,
                            mis: DataFrame, events: DataFrame)

/** `kiln_reference`: the reference's batch job at its own scale. One
  * operation loads the five kiln CSVs and the events with explicit
  * schemas, aligns them, writes the aligned matrix, runs the feature,
  * risk and label stages, and writes the capped training matrix. */
final class KilnReference(refs: Refs) extends Workload {
  val maxFeatures = 500
  val hourlyRows = 8761L

  def prepare(dir: File, seed: Long): Unit = KilnGen.writeAll(dir, seed)

  /** The pipeline's two actions: the aligned-matrix and training-matrix writes. */
  def isQuery(s: Step): Boolean = s.name.startsWith("write_")

  private val eventSchema = StructType(Seq(StructField("event_id", IntegerType),
    StructField("zone", IntegerType), StructField("start_date", StringType),
    StructField("critical_date", StringType)))
  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  def load(s: SparkSession, dir: File): KilnInputs = {
    def p(f: String) = new File(dir, f).getAbsolutePath
    KilnInputs(KilnSources.loadZone(s, p("zone_temperature.csv")),
      KilnSources.loadQrt(s, p("qrt_temperature.csv")),
      KilnSources.loadShell(s, p("shell_temperature.csv")),
      KilnSources.loadAir(s, p("air_calibration.csv")),
      KilnSources.loadMis(s, p("mis_report.csv")),
      CsvIO.read(s, p("accretion_events.csv"), eventSchema,
        Map("start_date" -> tsFmt, "critical_date" -> tsFmt)))
  }

  def aligned(src: KilnInputs): DataFrame =
    KilnSources.alignAll(src.zone, src.qrt, src.shell, src.air, src.mis, KilnGen.positions)

  def labeled(src: KilnInputs): DataFrame =
    KilnPipeline.process(KilnSources.zoneWideToLong(src.zone), src.events)

  def matrix(lab: DataFrame): DataFrame = KilnPipeline.trainingMatrix(lab, KilnSources.zones,
    lab.columns.filterNot(Set("ts", "zone")).toSeq, maxFeatures)

  private var firstHash: Option[String] = None

  def op(ctx: Ctx, k: Int): Seq[Step] = {
    val sp = ctx.spans
    val out = new File(ctx.work, s"kiln-$k")
    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    def step[T](layer: String, name: String)(body: => T): Option[T] = {
      val t0 = sp.now()
      val r = try Right(sp(layer, name)(body)) catch {
        case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
      steps += Step(name, (sp.now() - t0) / 1000.0, r.isRight, r.swap.getOrElse(""))
      r.toOption
    }
    for {
      src <- step("sources", "csv_load")(load(ctx.spark, ctx.inputs))
      al <- step("pipeline", "align")(aligned(src))
      _ <- step("sources", "write_aligned")(al.write.mode("overwrite").parquet(s"$out/aligned"))
      tm <- step("pipeline", "process")(matrix(labeled(src)))
      _ <- step("sources", "write_matrix")(tm.write.mode("overwrite").parquet(s"$out/matrix"))
    } yield ()
    Session.release(ctx.spark)
    // the output check is untimed; its verdict and the matrix hash land
    // on the last step
    if (steps.forall(_.ok)) {
      val (hash, problem) = check(ctx, out)
      steps(steps.size - 1) = steps.last.copy(ok = problem.isEmpty, detail = hash + problem)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    steps.toSeq
  }

  /** Shape, range and content checks of one operation's outputs; returns
    * the training matrix's hash and the problems found ("" if none). */
  private def check(ctx: Ctx, out: File): (String, String) = {
    val s = ctx.spark
    val al = s.read.parquet(s"$out/aligned")
    val tm = s.read.parquet(s"$out/matrix")
    val features = tm.columns.count(_ != "ts")
    val risk = tm.columns.filter(_.endsWith("_risk_score"))
    val stats = tm.agg(count(lit(1)), risk.toSeq.flatMap(c => Seq(min(col(c)), max(col(c)))): _*).head()
    val lo = risk.indices.map(i => stats.getDouble(1 + 2 * i))
    val hi = risk.indices.map(i => stats.getDouble(2 + 2 * i))
    val h = ContentHash.drain(tm).hash
    val want = refs.kilnGolden.filter(_ => ctx.seed == Refs.kilnGoldenSeed).orElse(firstHash)
    firstHash = firstHash.orElse(Some(h))
    val alRows = al.count()
    val problems = Seq(
      (alRows != hourlyRows) -> s"aligned matrix has $alRows rows, not $hourlyRows",
      (stats.getLong(0) != hourlyRows) -> s"training matrix has ${stats.getLong(0)} rows",
      (features < 1 || features > maxFeatures) -> s"training matrix has $features feature columns",
      risk.isEmpty -> "training matrix has no risk_score column",
      (lo.exists(_ < 0.0) || hi.exists(_ > 1.0)) -> "risk_score outside [0, 1]",
      want.exists(_ != h) -> s"matrix hash $h != expected ${want.getOrElse("")}")
    (h, problems.collect { case (true, msg) => s"; $msg" }.mkString)
  }

  /** Stage profile in the shape of the reference's per-stage timings: the
    * CSV scans, then each pipeline stage computed from the cached output of
    * the stage before it, so a stage's time is its own work plus caching. */
  override def profile(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val src = load(s, ctx.inputs)
    def timed(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      ContentHash.drain(df)
      (System.nanoTime() - t0) / 1e9
    }
    def cachedTimed(df: DataFrame): (DataFrame, Double) = {
      val c = df.persist()
      (c, timed(c))
    }
    val loadS = Seq(src.zone, src.qrt, src.shell, src.air, src.mis, src.events).map(timed).sum
    val (a, alignS) = cachedTimed(KilnPipeline.align(KilnSources.zoneWideToLong(src.zone)))
    val (f, featuresS) = cachedTimed(KilnPipeline.features(a))
    val (r, riskS) = cachedTimed(KilnPipeline.riskScore(f))
    val (l, labelS) = cachedTimed(KilnPipeline.label(r, src.events))
    val wideS = timed(matrix(l))
    Session.release(s)
    Map("sources.csv_load_s" -> loadS, "pipeline.align_s" -> alignS,
      "pipeline.features_s" -> featuresS, "pipeline.risk_s" -> riskS,
      "pipeline.label_s" -> labelS, "pipeline.wide_s" -> wideS)
  }
}
