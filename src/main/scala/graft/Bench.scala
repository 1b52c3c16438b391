package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Headline benchmark: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints ONE machine-readable JSON line.
  *
  * Protocol: each query runs `SPARK_GRAFT_PASSES` times (default 3) in
  * session, with [[release]] between passes; the reported number is
  * the MEDIAN pass, with min/median/max and status kept per query under
  * `queries_detail`. Medians bound the influence of one noisy pass (GC,
  * page cache, compile stalls) on the round artifact — the driver's
  * environment measured 2-4× inflation on single passes in round 4.
  *
  * Failures are first-class: a query that throws is recorded as
  * `ok=false` with the error, its headline time is -1 (never a fast
  * fake success), and the process exits nonzero so a bench-only
  * regression (OOM, codegen failure) cannot hide in a green-looking
  * artifact.
  *
  * This object also holds the one session profile and the harness steps
  * that every graft session shares: `Verify`, `Explain`, the tools under
  * `graft.tools` and the test suites run [[session]], so the correctness
  * gate checks the configuration this benchmark times. */
object Bench {
  /** The one session profile, on `local[cpus]` with `cpus` shuffle
    * partitions. Idempotent: a second call returns the running session. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the events loader's NTZ→timestamp normalization is only
      // bit-identical under UTC (sources/Tables.scala)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Measured on this suite (see README bench protocol). AQE's
      // stage-by-stage materialization adds a nondeterministic scheduling
      // stall in local mode — identical q65 passes measured 1.6 s to 60 s
      // with AQE on, 1.6-2.6 s steady with it off. Its cluster-scale
      // benefits (runtime coalescing, skew splits) don't apply to fixed
      // local fixtures, so the profile disables it; every operator remains
      // AQE-compatible for cluster deployment (specs that test AQE itself
      // turn it on with `SparkSpec.withAqe`).
      .config("spark.sql.adaptive.enabled", "false")
      // default 100-entry codegen cache thrashes on multi-pass runs of
      // 20-40-unit plans: ~41 Janino recompiles per q65 pass, each a
      // driver-serialized compile stall; 10k entries → 0 recompiles
      .config("spark.sql.codegen.cache.maxEntries", 10000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`: the local parallelism and shuffle fan-out of the
    * harness mains (default 32). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `SPARK_GRAFT_ONLY`: an optional comma-separated list of query names
    * for local iteration; unset selects every query. */
  def isSelected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY").forall(_.split(",").contains(name))

  /** Warms the session once (codegen compiler, parquet readers, shuffle +
    * broadcast machinery, sort) so the first timed query measures the
    * query, not JVM init — without this q01 absorbs ~1s of one-time setup. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val rg = spark.read.parquet(s"$sfDir/region.parquet")
      li.filter(col("l_quantity") > 0).groupBy("l_returnflag")
        .agg(sum("l_quantity").as("s")).orderBy("l_returnflag").count()
      li.limit(1024).join(broadcast(rg), li("l_orderkey") % 5 === rg("r_regionkey")).count()
    } catch { case _: Throwable => () }

  /** Full-consume action, NOT count(): under `df.count()` Catalyst prunes
    * every output column the aggregate doesn't reference — windows,
    * projections, whole feature pipelines vanish from the timed plan, and
    * the "benchmark" times a bare scan. Pulling every row of the final
    * plan on the executors forces every output column to be computed while
    * adding no driver-transfer cost. */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it => while (it.hasNext) it.next() }

  /** Releases what a query persisted (dedup ops materialize their exploded
    * shingle tables): leaked blocks would degrade every later pass/query
    * via eviction pressure. clearCache only covers the SQL CacheManager;
    * RDD-level localCheckpoint blocks (the CC loop's) must be unpersisted
    * explicitly or they linger until a GC-driven ContextCleaner pass.
    * BLOCKING on purpose: async removal floods the driver dispatcher with
    * RemoveBlock RPCs exactly when the NEXT pass schedules its first
    * stages — measured as idle-executor stalls inflating later passes
    * 3-5×. Call it outside any timed window. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in an error message or builder-authored SQL would
    * otherwise make a `json.load` of the artifact fail. */
  def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCores = cpus
    val spark = session(nCores)
    warmUp(spark, sfDir)
    val selected = SparkEntry.queries.filter(kv => isSelected(kv._1))
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    require(passes >= 1, s"SPARK_GRAFT_PASSES must be >= 1, got $passes")
    // wall-clock budget (seconds): once elapsed exceeds it, remaining
    // queries drop to 1 pass so a slow box still completes the sweep
    val timeBudget = sys.env.get("SPARK_GRAFT_TIME_BUDGET").map(_.toDouble)
    val benchT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9

    // `load` = the 1-min loadavg sampled at the END of each timed pass:
    // a contaminated pass (co-tenant burst mid-sweep, the r8-r10 driver
    // failure mode) is identifiable post hoc from the artifact alone —
    // a 14 s max beside load [1.9, 15.2, 2.1] is machine noise, not a
    // regression, and the min from a low-load pass is the honest number.
    // `gc` = JVM garbage-collection time (seconds) accumulated DURING each
    // timed pass (GarbageCollectorMXBean collection-time deltas): the r11
    // q196 stall ran 19-90 s at loadavg 1.1 — CPU contention the load
    // field can see, but a memory-bound stall (old-gen churn after 330
    // queries of heap history) it cannot. A pass whose gc ≈ its wall time
    // is an eviction/GC artifact, not a code regression.
    final case class R(median: Double, min: Double, max: Double,
                       ok: Boolean, err: Option[String],
                       load: Seq[Double] = Nil, gc: Seq[Double] = Nil)
    // Crash-proofing (round 5 lost the entire driver bench to a late
    // crash): results accumulate here, the artifact is rewritten in place
    // after EVERY query, and a shutdown hook emits whatever completed if
    // the JVM dies mid-run — a partial round still yields data.
    val done = new java.util.concurrent.ConcurrentHashMap[String, R]()
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    // provenance: this box shares CPU with bursty external load (observed
    // 1-min loadavg 0.4 → 10 inside one sweep; a single pass stalled 168 s
    // on a 4.6 s query). Recording loadavg start/now + cores in the
    // artifact lets a reader separate contention from regression; the
    // queries_detail min is the load-robust statistic.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // Load GATE (round-9 lesson: a sweep started at loadavg 4.8 showed
    // 3-6× "regressions" on code untouched since the prior round): wait
    // for a quiet box before the first timed query, up to
    // SPARK_GRAFT_LOAD_WAIT seconds (default 600), then proceed with a
    // loud warning — the artifact's loadavg_start tells the reader
    // whether the gate was satisfied. Disable with SPARK_GRAFT_LOAD_MAX=0.
    val loadMax = sys.env.get("SPARK_GRAFT_LOAD_MAX").map(_.toDouble).getOrElse(2.0)
    val loadWait = sys.env.get("SPARK_GRAFT_LOAD_WAIT").map(_.toInt).getOrElse(600)
    if (loadMax > 0) {
      var waited = 0
      while (osBean.getSystemLoadAverage >= loadMax && waited < loadWait) {
        System.err.println(
          f"bench: loadavg ${osBean.getSystemLoadAverage}%.2f >= $loadMax%.1f — waiting for a quiet box ($waited/$loadWait s)")
        Thread.sleep(30000); waited += 30
      }
      if (osBean.getSystemLoadAverage >= loadMax)
        System.err.println(
          f"bench: WARNING box never quieted (loadavg ${osBean.getSystemLoadAverage}%.2f) — timings are load-contaminated")
    }
    val loadStart = osBean.getSystemLoadAverage
    // `cores` = the EFFECTIVE parallelism (local[$SPARK_GRAFT_CPUS]), not
    // the box's physical CPU count: the driver sweeps core counts via the
    // env var, and r12's committed 8-core artifact said "cores": 32
    // (VERDICT r12 finding #3) — the artifact must be self-describing.
    // The physical count stays available as `cores_physical`.
    val nPhysical = Runtime.getRuntime.availableProcessors()
    // two renderings of the same results: the STDOUT line is a SUMMARY
    // (total + counts + the 10 slowest medians, guaranteed < 1.5 KB)
    // because the driver's tail capture is a 2 KB window — round 6's
    // full-detail line outgrew it and the round artifact parsed as null,
    // and round 7's "compact" all-queries map STILL outgrew it at 211
    // entries (~7 KB). The file artifact keeps the complete per-query
    // min/median/max/err detail.
    def render(partial: Boolean, withDetail: Boolean): String = {
      import scala.jdk.CollectionConverters._
      val results = done.asScala.toMap
      val shownQ =
        if (withDetail) results.toSeq
        else results.toSeq.filter(_._2.ok).sortBy(-_._2.median).take(10)
      val qs = shownQ.map { case (k, v) => s"\"" + k + "\":" + v.median }
        .mkString("{", ",", "}")
      val detail =
        if (!withDetail) ""
        else results.map { case (k, v) =>
          val e = v.err.map(m => "\"" + jsonEscape(m) + "\"").getOrElse("null")
          val ld = v.load.mkString("[", ",", "]")
          val gc = v.gc.mkString("[", ",", "]")
          s"""\"$k\":{"median":${v.median},"min":${v.min},"max":${v.max},"ok":${v.ok},"err":$e,"load":$ld,"gc":$gc}"""
        }.mkString(""""queries_detail":{""", ",", "},")
      val failedAll = results.collect { case (k, v) if !v.ok => "\"" + k + "\"" }.toSeq
      val failed = (if (withDetail) failedAll else failedAll.take(10))
        .mkString("[", ",", "]")
      val total = results.values.collect { case r if r.ok => r.median }.sum
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        detail +
        s""""failed":$failed,"n_failed":${failedAll.size},"passes":$passes,""" +
        s""""partial":$partial,"completed":${results.size},""" +
        s""""selected":${selected.size},""" +
        (if (withDetail) "" else s""""queries_shown":${shownQ.size},""") +
        s""""loadavg_start":$loadStart,"loadavg_now":${osBean.getSystemLoadAverage},""" +
        s""""cores":$nCores,"cores_physical":$nPhysical,"sf":"$sfDir"}"""
    }
    def flush(partial: Boolean): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (render(partial, withDetail = true) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }
    @volatile var finishedNormally = false
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (!finishedNormally) {
        // stdout may already be truncated by the driver; both channels
        System.err.println(render(partial = true, withDetail = false))
        flush(partial = true)
      }))

    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    selected.foreach { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val loads = scala.collection.mutable.ArrayBuffer.empty[Double]
      val gcs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var err: Option[String] = None
      var p = 0
      // budget exceeded → single-pass mode for everything still queued
      val passesHere = if (timeBudget.exists(elapsed > _)) 1 else passes
      while (p < passesHere && err.isEmpty) {
        val gc0 = gcMillis
        val t0 = System.nanoTime()
        try drain(fn(spark, sfDir))
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        if (err.isEmpty) times += (System.nanoTime() - t0) / 1e9
        loads += math.rint(osBean.getSystemLoadAverage * 100) / 100
        gcs += math.rint((gcMillis - gc0) / 1000.0 * 1000) / 1000
        release(spark)
        p += 1
      }
      // GC hint at the query boundary, OUTSIDE the timed window (r12
      // VERDICT finding #4: late-sweep queries absorbed 3-5 s/pass of
      // old-gen churn from 300+ queries of heap history — q194 swept at
      // 11.5 s vs 1.8 s quiet). Collecting the just-unpersisted blocks
      // here keeps one query's garbage from being charged to the next;
      // timings themselves are untouched (timed region unchanged).
      System.gc()
      val sorted = times.sorted
      val r =
        if (err.isDefined) R(-1.0, -1.0, -1.0, ok = false, err, loads.toSeq, gcs.toSeq)
        else R(sorted(sorted.size / 2), sorted.head, sorted.last, ok = true,
          None, loads.toSeq, gcs.toSeq)
      done.put(name, r)
      flush(partial = true) // rewrite-in-place; a crash after this keeps `name`
    }
    finishedNormally = true
    val line = render(partial = false, withDetail = false)
    println(line)
    // machine-readable artifact: the driver's stdout tail truncates long
    // runs, so persist the full per-query map next to the repo as well
    flush(partial = false)
    import scala.jdk.CollectionConverters._
    val failedNames = done.asScala.collect { case (k, v) if !v.ok => k }
    spark.stop()
    if (failedNames.nonEmpty) {
      System.err.println(s"bench: FAILED queries: ${failedNames.mkString(",")}")
      sys.exit(1)
    }
  }
}
