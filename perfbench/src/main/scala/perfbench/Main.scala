package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.perfbench.Internals

/** The measured JVM of one benchmark run.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --cores C --bench DIR --python EXE --work DIR --out FILE
  * }}}
  *
  * Sets up once (session, inputs, warm-up), timed from JVM start, then
  * runs a fixed number of operations of the workload: a cold one and a
  * warm one, and with `--trace 1` a second warm one. With `--trace 1` a
  * listener ties jobs to spans; the first warm operation is traced and the
  * second is not, so the run measures its own tracing overhead (an upper
  * bound: the traced operation is also the less warmed-up one).
  * `--seconds` only bounds the operations' time: a run that takes longer
  * says so in its document, and runs the same operations. Writes one JSON
  * document to `--out`. */
object Main {
  /** A cold and a warm operation; a traced run needs one more, so that
    * it has a traced and an untraced warm operation. */
  def opCount(trace: Boolean): Int = if (trace) 3 else 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsoluteFile
    val bench = new File(a("bench"))
    val refs = Refs.load(new File(bench, "data"))
    val wl = Workload(workload, refs, TableGen(a("python"), new File(bench, "gen_tables.py")))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    work.mkdirs()

    // set-up: from JVM start to a warm session with its inputs written
    val spark = Session.start(cores, work.getPath)
    val inputs = new File(work, "inputs")
    wl.prepare(inputs, seed)
    warm(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val sc = spark.sparkContext
    val spans = new Spans(sc)
    val tracer = new Tracer
    val planListener = new PlanListener
    val ctx = Ctx(spark, inputs, work, spans, seed)
    final case class Op(k: Int, traced: Boolean, span: Int, steps: Seq[Step], gcS: Double,
                        codegenS: Double, codegenClasses: Long, wallS: Double, listenerS: Double) {
      def seconds: Double = steps.map(_.seconds).sum
    }
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    for (k <- 0 until opCount(trace)) {
      settle()
      val traced = trace && k == 1
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(planListener) }
      spans.tagJobs = traced
      val gc0 = gcMillis
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var steps: Seq[Step] = Nil
      val id = spans.nextSpanId
      val w0 = System.nanoTime()
      val l0 = tracer.busyNs
      spans("harness", s"op$k") { steps = wl.op(ctx, k) }
      val op = Op(k, traced, id, steps, (gcMillis - gc0) / 1000.0,
        (CodeGenerator.compileTime - cg0) / 1e9, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0,
        (System.nanoTime() - w0) / 1e9, 0.0)
      Internals.drainListenerBus(sc)
      ops += op.copy(listenerS = (tracer.busyNs - l0) / 1e9)
      if (traced) { sc.removeSparkListener(tracer); spark.listenerManager.unregister(planListener) }
      System.err.println(f"perfbench: $workload op $k%d${if (traced) " (traced)" else ""}: ${op.seconds}%.3f s" +
        steps.filterNot(_.ok).map(s => s"\n  FAILED ${s.name}: ${s.detail}").mkString)
    }

    val opsS = ops.map(_.wallS).sum
    val warmOps = ops.drop(1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // linear interpolation between closest ranks
    def quantile(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val h = q * (s.size - 1)
      val i = math.floor(h).toInt
      if (i + 1 < s.size) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
    }
    val attempted = ops.map(_.steps.size).sum
    val failures = ops.flatMap(o => o.steps.filterNot(_.ok).map(s => s"op${o.k} ${s.name}: ${s.detail}"))
    // steady-state latency: the queries of the untraced warm operations
    val untraced = warmOps.filterNot(_.traced)
    val latencies = untraced.flatMap(_.steps.filter(wl.isQuery)).map(_.seconds).toSeq
    val untracedWarm = untraced.map(_.seconds).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_s" -> ops.head.seconds,
      "warm_s" -> median(untracedWarm),
      "query_p50_s" -> quantile(latencies, 0.5),
      "query_p90_s" -> quantile(latencies, 0.9),
      "peak_rss_mb" -> peakRssMb,
      "fail_frac" -> failures.size.toDouble / attempted)

    var layer = Map.empty[String, Double]
    if (trace) {
      Internals.drainListenerBus(sc)
      val tracedWarm = warmOps.filter(_.traced)
      val per = tracedWarm.map(o => Profile.opMetrics(spans, tracer, planListener, o.span, cores))
      layer = per.head.keys.map(k => k -> median(per.map(_(k)).toSeq)).toMap ++ Map(
        "operators.gc_s" -> median(warmOps.map(_.gcS).toSeq),
        "plans.codegen_compile_s" -> ops.head.codegenS,
        "plans.codegen_classes" -> ops.head.codegenClasses.toDouble,
        "trace.op_s" -> median(tracedWarm.map(_.seconds).toSeq),
        "trace.overhead_s" -> (median(tracedWarm.map(_.seconds).toSeq) - median(untracedWarm)),
        "trace.listener_s" -> median(tracedWarm.map(_.listenerS).toSeq)) ++
        wl.profile(ctx)
      writeTrace(new File(work, "trace.json"), spans, tracer)
    }

    val json = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "loadavg_start" -> loadStart, "loadavg_end" -> os.getSystemLoadAverage,
      "ops_s" -> opsS, "over_seconds" -> (opsS > seconds),
      "ops" -> ops.map(o => Json.obj("k" -> o.k, "traced" -> o.traced, "seconds" -> o.seconds,
        "wall_s" -> o.wallS,
        "gc_s" -> o.gcS, "codegen_s" -> o.codegenS, "codegen_classes" -> o.codegenClasses,
        "steps" -> o.steps.map(s => Json.obj("name" -> s.name, "seconds" -> s.seconds,
          "ok" -> s.ok, "detail" -> s.detail)))),
      "latency_samples" -> latencies.size, "jvm_wall_s" ->
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures,
      "end_to_end" -> e2e, "per_layer" -> layer)
    Files.write(new File(a("out")).toPath, json.s.getBytes(StandardCharsets.UTF_8))
    Session.stop(spark)
  }

  /** The warm-up of `graft.Bench`: codegen, an aggregate, a broadcast
    * join and a sort, over a generated range so that it reads no input. */
  def warm(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val r = spark.range(0, 200000, 1, 4)
    r.groupBy((col("id") % 7).as("k")).agg(sum("id")).orderBy("k").collect()
    r.join(broadcast(spark.range(0, 100).withColumnRenamed("id", "b")), col("id") % 100 === col("b"))
      .count()
  }

  /** Untimed pause before each operation: collect the garbage of the
    * set-up or of the last operation and wait until the JIT compiler has
    * been idle for 0.5 s (at most 10 s), so compilations queued by the
    * set-up or one operation do not compete with the next operation for
    * the cores. */
  def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idle = if (now == last) idle + 1 else 0
      last = now
    }
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** High-water resident set size of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath), StandardCharsets.UTF_8)
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** The trace of a traced run: spans, jobs and stages as JSON. */
  def writeTrace(f: File, spans: Spans, tr: Tracer): Unit = tr.synchronized {
    val json = Json.obj(
      "spans" -> spans.done.toSeq.sortBy(_.id).map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> tr.jobs.values.toSeq.map(j => Json.obj("id" -> j.id, "span" -> j.span,
        "name" -> j.name, "start_ms" -> j.start,
        "end_ms" -> j.end, "stages" -> j.stages)),
      "stages" -> tr.stages.values.toSeq.sortBy(_.id).map(s => Json.obj("id" -> s.id,
        "name" -> s.name, "submit_ms" -> s.submit, "complete_ms" -> s.complete, "tasks" -> s.tasks,
        "busy_ms" -> s.busyMs, "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
        "peak_exec_mem_bytes" -> s.peakMem, "bytes_written" -> s.written)))
    Files.write(f.toPath, json.s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the run document. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }
    .mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
