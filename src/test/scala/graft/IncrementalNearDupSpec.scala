package graft

import graft.operators.DedupOps
import graft.sources.Bucketing
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Incremental LSH near-dup (q211): semantic behavior on a constructed
  * fixture, plus cross-validation against the batch [[DedupOps
  * .minhashLshPairs]] formulation on the union — same band construction,
  * so batch×hist candidates must agree, and the signature-only Jaccard
  * estimate must track the exact value. */
class IncrementalNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliett kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu one two three four five"

  test("flags batch-vs-history near-copies only; batch-internal dups are out of scope") {
    val hist = Seq(
      (1L, base),
      (2L, "completely different content about weather patterns and ocean " +
        "currents with no shared vocabulary at all whatsoever in any window"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.replace("echo", "exho")),        // near copy of hist 1
      (11L, "unrelated batch text on cooking recipes and baking bread with " +
        "yeast flour water salt and patience none of it seen before"),
      (12L, "twin text repeated inside the batch only zero history overlap " +
        "alpha omega gamma delta prime"),
      (13L, "twin text repeated inside the batch only zero history overlap " +
        "alpha omega gamma delta prime"))
      .toDF("doc_id", "text")
    val bSig = DedupOps.minhashSignatures(batch, "doc_id", "text")
    val hSig = DedupOps.minhashSignatures(hist, "doc_id", "text")
    val hIdx = DedupOps.minhashBands(hSig, "doc_id", numHashes = 64, rows = 4)
    val out = DedupOps.incrementalNearDup(bSig, hIdx, hSig, "doc_id",
        numHashes = 64, rows = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.contains((10L, 1L)), s"near copy missed: $out")
    assert(out((10L, 1L)) >= 0.3 && out((10L, 1L)) <= 1.0)
    assert(!out.keys.exists(_._1 == 11L), "unrelated batch doc must not match")
    assert(!out.keys.exists(k => k._1 == 12L || k._1 == 13L),
      "batch-internal twins are not history matches (that is exactDedup's window)")
  }

  test("cross-validation vs batch LSH on the union: strong pairs recalled, estimates track exact") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val isBatch = (id: Long) => id % 5 == 0
    val exact = DedupOps.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, rows = 4, threshold = 0.05)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .collect { case ((a, b), j) if isBatch(a) ^ isBatch(b) =>
        (math.min(a, b), math.max(a, b)) -> j }
      .toMap
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val bSig = DedupOps.minhashSignatures(batch, "doc_id", "text")
    val hSig = DedupOps.minhashSignatures(hist, "doc_id", "text")
    val hIdx = DedupOps.minhashBands(hSig, "doc_id", numHashes = 64, rows = 4)
    val inc = DedupOps.incrementalNearDup(bSig, hIdx, hSig, "doc_id",
        numHashes = 64, rows = 4, threshold = 0.3)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
    // strong exact pairs (J >= 0.5) must be recalled at est-threshold 0.3:
    // identical candidate generation + estimate sigma ~0.06 at 64 lanes
    val strong = exact.filter(_._2 >= 0.5)
    assert(strong.nonEmpty, "fixture must contain strong batch-vs-hist pairs")
    val missed = strong.keySet -- inc.keySet
    assert(missed.isEmpty, s"strong pairs missed by incremental path: $missed")
    // shared pairs: signature estimate within 4 sigma of exact jaccard
    inc.foreach { case (k, est) =>
      exact.get(k).foreach { j =>
        assert(math.abs(est - j) <= 0.25, s"pair $k est $est vs exact $j")
      }
    }
  }

  test("bucketed (band, bh) index: the incremental candidate join is exchange-free") {
    // the actual 100 TB rolling-crawl shape: the historical band index is
    // a parquet table bucketed by (band, bh); the day's batch bands are
    // staged with the same bucket spec before the join, so the candidate
    // equi-join — the only stage that touches all of history — plans with
    // ZERO shuffle exchanges (and appending the day to the index is a
    // pure insert)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val docs = graft.sources.Tables.documents(spark, sfTiny)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val hist = docs.filter(col("doc_id") % 5 =!= 0)
      val bSig = DedupOps.minhashSignatures(batch, "doc_id", "text").persist()
      val hSig = DedupOps.minhashSignatures(hist, "doc_id", "text").persist()
      Bucketing.writeBucketed(
        DedupOps.minhashBands(hSig, "doc_id", numHashes = 64, rows = 4),
        "inds_hist_bands", buckets = 8, keys = Seq("band", "bh"))
      Bucketing.writeBucketed(
        DedupOps.minhashBands(bSig, "doc_id", numHashes = 64, rows = 4),
        "inds_batch_bands", buckets = 8, keys = Seq("band", "bh"))
      val hIdx = spark.table("inds_hist_bands")
      val bIdx = spark.table("inds_batch_bands")
      // the operator's candidate stage on the bucketed tables, pre-distinct
      // (the dedup of candidate ids re-keys by id — count join-side only,
      // exactly BucketedJoinSpec's discipline)
      val joinOnly = bIdx.select(col("doc_id").as("batch_id"), col("band"), col("bh"))
        .join(hIdx.select(col("doc_id").as("hist_id"), col("band"), col("bh")),
          Seq("band", "bh"))
        .select("batch_id", "hist_id")
      val nShuffles = planNodes(joinOnly.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(nShuffles == 0,
        s"bucketed band join must elide all exchanges:\n${joinOnly.queryExecution.executedPlan}")
      // and the full operator entered at the persisted band tables agrees
      // with the recompute-everything path
      val viaIndex = DedupOps.incrementalNearDupBands(bIdx, hIdx, bSig, hSig,
          "doc_id", numHashes = 64, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val direct = DedupOps.incrementalNearDup(bSig,
          DedupOps.minhashBands(hSig, "doc_id", numHashes = 64, rows = 4),
          hSig, "doc_id", numHashes = 64, rows = 4, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(viaIndex == direct, "persisted-index path must equal direct path")
      bSig.unpersist(); hSig.unpersist()
    } finally {
      spark.sql("DROP TABLE IF EXISTS inds_hist_bands")
      spark.sql("DROP TABLE IF EXISTS inds_batch_bands")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
