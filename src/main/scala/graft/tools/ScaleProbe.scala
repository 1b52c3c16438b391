package graft.tools

import graft.Bench
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-exponent probe: times the most expensive gate queries at the
  * base SF and at a `factor`× synthetic blow-up, and reports the observed
  * scaling exponent log(T_big/T_base)/log(factor) per query — the number
  * that exposes a quadratic tail hiding below sf0.1 (a linear operator
  * lands near 1.0, log-linear slightly above, an accidental all-pairs
  * near 2.0; local-mode scheduling floors push cheap queries BELOW 1).
  *
  * The blow-up is `factor` disjoint shards of the base data, not `factor`
  * identical copies: every entity key (order/cust/supp/part keys, doc,
  * user, event, vec ids) is offset per shard so join multiplicities stay
  * realistic (10 identical copies would square join outputs, measuring a
  * self-inflicted blow-up, not scaling). Dimension vocabularies (nation,
  * region, event_type, lang, source, label) are deliberately NOT sharded
  * — at 100 TB the fact tables grow and the vocabularies do not. Document
  * text gets a per-shard salt token appended so the dedup family does not
  * see 10-clique artificial duplicate groups (within-shard dup structure
  * is preserved: both members of a pair carry the same salt).
  *
  * Output: one JSON line {sf, factor, queries: {name: {t_base, t_big,
  * exponent}}} — committed per round as SCALE_rN.json; any exponent
  * > ~1.3 needs a named explanation or a fix (VERDICT r9 task 6). */
object ScaleProbe {

  /** Per-shard key offset — far above any base-table key range. */
  private val Shard = 1L << 40

  /** Columns that identify sharded ENTITIES (offset per copy); nation /
    * region keys and categorical vocabularies stay fixed. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "nation"     -> Seq(),
    "region"     -> Seq())

  private def blowUp(spark: SparkSession, sfDir: String, outDir: String,
                     factor: Int): Unit = {
    val fs = java.nio.file.Paths.get(outDir)
    if (java.nio.file.Files.exists(fs.resolve("_DONE"))) return
    keyCols.foreach { case (table, keys) =>
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
      val shards = (0 until (if (keys.isEmpty) 1 else factor)).map { i =>
        val off = i.toLong * Shard
        val shifted = keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, (col(k) + lit(off)).cast(df.schema(k).dataType))
        }
        if (table == "documents" && i > 0)
          shifted.withColumn("text",
            concat(col("text"), lit(s" shardsalt$i")))
        else shifted
      }
      // spread across enough files that the blown-up scan parallelizes
      // (the single-row-group trap): one file per shard at least
      shards.reduce(_ unionByName _)
        .repartition(math.max(factor, 8))
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    java.nio.file.Files.createFile(fs.resolve("_DONE"))
  }

  /** The probe set: the bench sweep's most expensive queries plus one
    * representative per heavy family (graph-iterative, all-pairs-risk
    * dedup, window, join, ANN, corpus HOF), each with the blow-up factor
    * it is measured at. Default 10×; the two CO-OCCURRENCE-BLOCKED
    * queries are measured at 3× because their pair stage is quadratic in
    * BLOCK DENSITY, not row count — their blocking keys (q246: hour ×
    * event_type × k-decile; q196: length bucket) are vocabulary keys
    * that do NOT shard, so a k× blow-up multiplies within-block pairs by
    * k² (10× = 100× pair work, which this box's disk cannot shuffle).
    * The probe's job is to EXHIBIT that ~2 exponent, and 3× does; the
    * production fix at real scale is more blocking entropy or a
    * per-block cap, not a bigger disk. */
  private val probes: Seq[(String, Int)] = Seq(
    "q246_triangle_census" -> 3,
    "q233_trade_pagerank" -> 10,
    "q287_bfs_reach" -> 10,
    "q196_fuzzy_pairs" -> 3,
    "q244_hampel_despike" -> 10,
    "q30_lag_features" -> 10,
    "q104_range_binned" -> 10,
    "q65_neardup_clusters" -> 10,
    "q55_ngram_jaccard" -> 10,
    "q217_trigram_surprisal" -> 10,
    "q107_subseq_search" -> 10,
    "q110_ann_ivfpq" -> 10,
    "q247_item_neighbors" -> 10,
    "q283_sole_late_supplier" -> 10,
    // round-10 additions: the wedge-bounded AA and the LPA supersteps
    // ride the same co-activity blocking keys as q246 (vocabulary keys,
    // k× rows = k² within-block pairs) → measured at 3×; the iterative
    // estimators and the banded DTW are row-linear → 10×
    "q322_adamic_adar" -> 3,
    "q330_label_propagation" -> 3,
    "q325_logistic_returns" -> 10,
    "q326_kmeans_embeddings" -> 10,
    "q324_dtw_profiles" -> 10,
    "q320_pacf" -> 10,
    // round-11 additions: BPE encode (one corpus scan + vocab-sized
    // training rounds), the classifier's featurize+Newton, Cox's
    // per-duration collapses, GARCH's per-series folds — row-linear →
    // 10×; Louvain rides the q246/q330 co-activity blocking keys
    // (k× rows = k² within-block pairs) → 3×; DBSCAN's gate path is the
    // DELIBERATE exact all-pairs quadratic (vector-table-sized, scale
    // swap = LSH candidates) → 3× to exhibit, not hide, the exponent
    "q336_bpe_encode" -> 10,
    "q338_quality_classifier" -> 10,
    "q340_cox_ph" -> 10,
    "q341_garch_vol" -> 10,
    "q337_louvain" -> 3,
    "q342_dbscan" -> 3,
    // round-12 additions: the hub-capped census rides the q246 blocking
    // keys (3× to compare against q246's exhibited ~2 exponent — the cap
    // must hold it near 1), the LSH DBSCAN and the funnel/GARCH-fit
    // pipelines are candidate-bounded / row-linear → the same factors as
    // their exact/static siblings
    "q345_triangle_core" -> 3,
    "q344_dbscan_lsh" -> 3,
    "q343_curation_funnel_v2" -> 10,
    "q346_garch_fit" -> 10,
    "q347_louvain_multilevel" -> 3)

  private def timeOnce(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime()
    Bench.drain(graft.SparkEntry.queries(name)(spark, dir))
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outPath = if (args.length > 1) args(1) else "SCALE_latest.json"
    val bigRoot = if (args.length > 2) args(2) else "/tmp/graft_scale_big"
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    val spark = Bench.session(Bench.cpus)
    val factors = probes.map(_._2).distinct.sorted
    val bigDirs = factors.map { f =>
      val d = s"$bigRoot/x$f"
      blowUp(spark, sfDir, d, f)
      f -> d
    }.toMap
    Bench.warmUp(spark, sfDir)
    val sel = probes.filter(p => Bench.isSelected(p._1))
    val rows = sel.map { case (name, factor) =>
      def best(dir: String): Double =
        (1 to passes).map { _ =>
          val t = timeOnce(spark, name, dir)
          Bench.release(spark)
          t
        }.min
      val tb = best(sfDir)
      val tg = best(bigDirs(factor))
      val exp = math.log(tg / tb) / math.log(factor.toDouble)
      System.err.println(
        f"$name%-28s base $tb%7.2fs  x$factor%-2d $tg%7.2fs  exp ${exp}%5.2f")
      f""""$name":{"t_base":$tb%.3f,"t_big":$tg%.3f,"factor":$factor,""" +
        f""""exponent":$exp%.3f}"""
    }
    val json = s"""{"sf":"$sfDir","passes":$passes,""" +
      s""""queries":${rows.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
