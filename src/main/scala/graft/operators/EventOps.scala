package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic event-stream analytics over the (user, ts, type) log — the
  * product-analytics queries (cohort retention, ordered funnels) that run
  * beside the sensor/time-series operators on the same events table.
  *
  * Scale shape: everything keys on the user — one hash shuffle on the
  * user id and the raw stream collapses map-side to per-(user, day) or
  * per-user rows before it; no global sorts, no self-joins over the raw
  * log. */
object EventOps {

  /** Cohort retention: users cohort by the DAY of their first event;
    * retention at offset k = how many of them were active k days later.
    * ONE user-keyed aggregate collapses the raw log to a per-user
    * distinct-day set (bounded by the calendar horizon — 365 entries/user/
    * year, not by event volume, so the set is safe at any scale); cohort
    * = its min, offsets explode from the SAME set, and the final count is
    * exact because the set held each active day once. Two shuffles total
    * (user collapse + cohort/offset count) — no distinct-then-window
    * re-shuffle chain.
    *
    * Returns (cohort_date, day_offset, n_users) for offsets 0..maxOffset. */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
                       maxOffset: Int): DataFrame = {
    events.select(col(userCol).as("u"), to_date(col(tsCol)).as("d"))
      .groupBy("u").agg(collect_set("d").as("days"))
      .select(array_min(col("days")).as("cohort_date"),
        explode(col("days")).as("d"))
      .select(col("cohort_date"), datediff(col("d"), col("cohort_date")).as("day_offset"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_date", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Per-day histogram sketches of a measure, rolled up into whole-corpus
    * quantiles WITHOUT rescanning — the quantile twin of the HLL distinct
    * rollup (q106): daily (bins + 2)-long counter rows merge by vector
    * addition (exactly mergeable), so month/corpus percentiles come from
    * kilobytes of sketch rows instead of a second pass over the raw log.
    * Estimates are exact to one bin width over the declared [lo, hi)
    * range (HistogramSketchSpec pins the bound).
    *
    * Returns one row per day (day, n, p50) plus a "__all__" row with the
    * merged-sketch p50/p90/p99. */
  def histQuantileRollup(events: DataFrame, tsCol: String, valueCol: String,
                         bins: Int, lo: Double, hi: Double,
                         scoreOut: Column => Column): DataFrame = {
    graft.functions.VectorFunctions.register(events.sparkSession)
    val daily = events
      .select(date_format(col(tsCol), "yyyy-MM-dd").as("day"),
        col(valueCol).cast("double").as("v"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        call_function("graft_hist_agg", col("v"),
          lit(bins), lit(lo), lit(hi)).as("sk"))
    val perDay = daily.select(col("day"), col("n"),
      scoreOut(call_function("graft_hist_quantile", col("sk"), lit(0.5))).as("p50"),
      lit(null).cast("double").as("p90"),
      lit(null).cast("double").as("p99"))
    // corpus row: within one job the global sketch comes from the same
    // scan's partial buffers; the no-rescan claim is about the STORED
    // sketch-table workflow, exercised via [[mergeSketches]] in the spec
    val all = events
      .select(col(valueCol).cast("double").as("v"))
      .agg(count(lit(1)).as("n"),
        call_function("graft_hist_agg", col("v"), lit(bins), lit(lo), lit(hi)).as("sk"))
      .select(lit("__all__").as("day"), col("n"),
        scoreOut(call_function("graft_hist_quantile", col("sk"), lit(0.5))).as("p50"),
        scoreOut(call_function("graft_hist_quantile", col("sk"), lit(0.9))).as("p90"),
        scoreOut(call_function("graft_hist_quantile", col("sk"), lit(0.99))).as("p99"))
    perDay.unionByName(all)
  }

  /** t-digest twin of [[histQuantileRollup]] for UNBOUNDED measures: the
    * fixed-bin histogram needs a known [lo, hi); the t-digest needs
    * nothing and concentrates resolution at the tails (δ=100 holds the
    * rank error well under 1%, tails under 0.3% — TDigestSpec pins the
    * bounds). The corpus row merges the per-day digest ROWS with
    * `graft_tdigest_merge` inside the same plan — a genuine no-rescan
    * rollup: at 100 TB the daily digests are a stored kilobyte-scale
    * table and month/corpus quantiles never touch raw events again. */
  def tdigestQuantileRollup(events: DataFrame, tsCol: String, valueCol: String,
                            delta: Int, scoreOut: Column => Column): DataFrame = {
    graft.functions.VectorFunctions.register(events.sparkSession)
    def q(sk: Column, p: Double) =
      scoreOut(call_function("graft_tdigest_quantile", sk, lit(p)))
    val daily = events
      .select(date_format(col(tsCol), "yyyy-MM-dd").as("day"),
        col(valueCol).cast("double").as("v"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        call_function("graft_tdigest_agg", col("v"), lit(delta)).as("sk"))
      .persist()
    val perDay = daily.select(col("day"), col("n"),
      q(col("sk"), 0.5).as("p50"), q(col("sk"), 0.9).as("p90"),
      q(col("sk"), 0.99).as("p99"))
    val all = daily
      .agg(sum("n").as("n"),
        call_function("graft_tdigest_merge", col("sk")).as("sk"))
      .select(lit("__all__").as("day"), col("n"),
        q(col("sk"), 0.5).as("p50"), q(col("sk"), 0.9).as("p90"),
        q(col("sk"), 0.99).as("p99"))
    perDay.unionByName(all)
  }

  /** Hour-of-day seasonal profile + residual anomalies: per (series,
    * hour-of-day) mean/σ as the periodic baseline, and the count of
    * events straying more than `zCut`·σ from their seasonal slot — the
    * seasonality-aware cousin of the trailing z-score detector (W10),
    * catching "normal for 3 am, anomalous for noon" cases a global
    * threshold misses. ONE window pass computes baseline and flags
    * together (the partition key (series, hour) is the groupBy key, so
    * Catalyst reuses the exchange for the final aggregate).
    *
    * Returns (series, hour, n, mu, sigma, n_anom). */
  def seasonalProfile(events: DataFrame, seriesCol: String, tsCol: String,
                      valueCol: String, zCut: Double,
                      scoreOut: Column => Column): DataFrame = {
    val w = Window.partitionBy(seriesCol, "hour")
    events
      .select(col(seriesCol), hour(col(tsCol)).as("hour"),
        col(valueCol).cast("double").as("v"))
      .withColumn("mu", avg("v").over(w))
      .withColumn("sigma", stddev_pop("v").over(w))
      .withColumn("anom",
        (col("sigma") > 0 && abs(col("v") - col("mu")) > lit(zCut) * col("sigma"))
          .cast("long"))
      .groupBy(seriesCol, "hour")
      .agg(count(lit(1)).as("n"),
        scoreOut(max("mu")).as("mu"),
        scoreOut(max("sigma")).as("sigma"),
        sum("anom").as("n_anom"))
  }

  /** SCD2 (type-2 slowly-changing-dimension) interval build from an event
    * log: collapse consecutive duplicate states per key, then stamp each
    * surviving state with [valid_from, valid_to) from the next change —
    * the warehouse primitive that turns an append-only log into an
    * as-of-queryable dimension. Two window passes over the SAME (key,
    * ts-order) sort — one exchange, reused. Timestamps are emitted as
    * epoch micros (engine-portable integers).
    *
    * Returns (key, state, valid_from_us, valid_to_us, is_current). */
  def scd2Build(events: DataFrame, keyCol: String, tsCol: String,
                tiebreakCol: String, stateCol: String): DataFrame = {
    val ord = Window.partitionBy(keyCol).orderBy(col("ts_us"), col("__tb"))
    val changes = events
      .select(col(keyCol), col(stateCol).as("state"),
        unix_micros(col(tsCol)).as("ts_us"), col(tiebreakCol).as("__tb"))
      .withColumn("prev_state", lag("state", 1).over(ord))
      .filter(col("prev_state").isNull || col("state") =!= col("prev_state"))
    val ord2 = Window.partitionBy(keyCol).orderBy(col("ts_us"), col("__tb"))
    changes
      .withColumn("valid_to_us", lead("ts_us", 1).over(ord2))
      .select(col(keyCol), col("state"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.cast("int").as("is_current"))
  }

  /** First-order Markov transition matrix of the event-type sequence per
    * key: P(next | current) from lead pairs — the sequence-model summary
    * (bot detection, UX-flow analysis) that is to event streams what the
    * bigram LM is to text. One window pass + one pair-keyed aggregate;
    * the per-current normalizer is a window over the tiny pair table.
    *
    * Returns (cur_state, next_state, n, p). */
  def markovTransitions(events: DataFrame, keyCol: String, tsCol: String,
                        tiebreakCol: String, stateCol: String,
                        scoreOut: Column => Column): DataFrame = {
    val ord = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tiebreakCol))
    val pairs = events
      .select(col(keyCol), col(stateCol).as("cur_state"),
        col(tsCol), col(tiebreakCol))
      .withColumn("next_state", lead("cur_state", 1).over(ord))
      .filter(col("next_state").isNotNull)
      .groupBy("cur_state", "next_state")
      .agg(count(lit(1)).as("n"))
    val norm = Window.partitionBy("cur_state")
    pairs.withColumn("p", scoreOut(col("n").cast("double") / sum("n").over(norm)))
  }

  /** Entropy rate of the event-type process under its first-order Markov
    * model: H = −Σ_i π(i) Σ_j p(j|i)·ln p(j|i), with π the empirical
    * current-state distribution — how predictable the next action is
    * (low: bots/templates; high: organic). Two tiny aggregates over the
    * [[markovTransitions]] pair table; the log stream never leaves the
    * transition matrix's size.
    *
    * Returns one row: (n_transitions, n_states, entropy_rate,
    * max_entropy, predictability = 1 − H/H_max); predictability is null
    * for a single state, where H_max = 0. */
  def sequenceEntropyRate(events: DataFrame, keyCol: String, tsCol: String,
                          tiebreakCol: String, stateCol: String,
                          scoreOut: Column => Column): DataFrame = {
    val t = markovTransitions(events, keyCol, tsCol, tiebreakCol, stateCol,
      scoreOut = c => c) // raw p for the entropy fold; rounding at output
    val tot = t.agg(sum("n").as("nt"))
    val perCur = t.crossJoin(broadcast(tot))
      .withColumn("pi_term",
        (col("n") / col("nt")) * -log(col("p")))
    perCur.agg(
        max(col("nt")).cast("long").as("n_transitions"),
        countDistinct("cur_state").as("n_states"),
        sum("pi_term").as("h"))
      .select(col("n_transitions"), col("n_states"),
        scoreOut(col("h")).as("entropy_rate"),
        scoreOut(log(col("n_states").cast("double"))).as("max_entropy"),
        scoreOut(lit(1.0) - try_divide(col("h"), log(col("n_states").cast("double"))))
          .as("predictability"))
  }

  /** Burstiness of inter-arrival times per key (Goh & Barabási '08):
    * B = (σ − μ)/(σ + μ) over the gaps between consecutive events —
    * −1 for a metronome, 0 for a Poisson process, → 1 for extreme bursts.
    * Regular machine traffic and bots sit far from organic humans on this
    * axis. One lag window per key + one aggregate; gaps are integer
    * micros (exact).
    *
    * Returns per key: (key, n_gaps, mean_gap_s, std_gap_s, burstiness);
    * burstiness is null when every gap is 0 (σ + μ = 0). */
  def burstiness(events: DataFrame, keyCol: String, tsCol: String,
                 tiebreakCol: String, scoreOut: Column => Column): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("us"), col(tiebreakCol))
    events
      .select(col(keyCol), unix_micros(col(tsCol)).as("us"), col(tiebreakCol))
      .withColumn("gap", (col("us") - lag("us", 1).over(w)) / lit(1000000.0))
      .filter(col("gap").isNotNull)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_gaps"),
        avg("gap").as("m"), stddev_pop("gap").as("sd"))
      .filter(col("n_gaps") >= 2)
      .select(col(keyCol), col("n_gaps"),
        scoreOut(col("m")).as("mean_gap_s"),
        scoreOut(col("sd")).as("std_gap_s"),
        scoreOut(try_divide(col("sd") - col("m"), col("sd") + col("m"))).as("burstiness"))
  }

  /** Local-peak detection on an hourly series: points strictly above both
    * neighbors AND above the series mean + `kSigma`·σ — the
    * spike-inventory a monitoring dashboard lists, as two window lags and
    * one broadcast of per-series global stats. Endpoints (no neighbor on
    * one side) are never peaks, matching the usual convention.
    *
    * Returns peak rows: (series, h, v, prev_v, next_v). */
  def localPeaks(events: DataFrame, seriesCol: String, tsCol: String,
                 valueCol: String, kSigma: Double,
                 scoreOut: Column => Column): DataFrame = {
    val hourly = events
      .select(col(seriesCol), date_trunc("hour", col(tsCol)).as("h"),
        col(valueCol).cast("double").as("v"))
      .groupBy(seriesCol, "h").agg(avg("v").as("v"))
    val w = Window.partitionBy(seriesCol).orderBy("h")
    val stats = hourly.groupBy(seriesCol)
      .agg(avg("v").as("gm"), stddev_pop("v").as("gs"))
    hourly
      .withColumn("prev_v", lag("v", 1).over(w))
      .withColumn("next_v", lead("v", 1).over(w))
      .join(broadcast(stats), Seq(seriesCol))
      .filter(col("prev_v").isNotNull && col("next_v").isNotNull &&
        col("v") > col("prev_v") && col("v") > col("next_v") &&
        col("v") > col("gm") + lit(kSigma) * col("gs"))
      .select(col(seriesCol), col("h"),
        scoreOut(col("v")).as("v"),
        scoreOut(col("prev_v")).as("prev_v"),
        scoreOut(col("next_v")).as("next_v"))
  }

  /** Cohort LTV curve: cumulative value per cohort at each day offset —
    * the revenue companion of [[retentionCohorts]] ("how much has the
    * Jan-3 cohort produced by day k"). Same one-collapse shape: the log
    * folds to (user, day, value) sums map-side, the cohort attaches from
    * the per-user day set, and the cumulative runs over the tiny
    * (cohort, offset) table.
    *
    * Returns (cohort_day, day_offset, n_users, day_value, cum_value). */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
                valueCol: String, maxOffset: Int,
                scoreOut: Column => Column): DataFrame = {
    val ud = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("d"),
        col(valueCol).cast("double").as("v"))
      .groupBy("u", "d").agg(count(lit(1)).as("n"), sum("v").as("dv"))
    val wU = Window.partitionBy("u")
    val off = ud
      .withColumn("cohort", min("d").over(wU))
      .withColumn("day_offset", datediff(col("d"), col("cohort")))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort", "day_offset")
      .agg(count(lit(1)).as("n_users"), sum("dv").as("day_value"))
    val wC = Window.partitionBy("cohort").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    off
      .withColumn("cum_value", sum("day_value").over(wC))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"),
        scoreOut(col("day_value")).as("day_value"),
        scoreOut(col("cum_value")).as("cum_value"))
  }

  /** LTTB-style visual downsampling ("largest triangle three buckets",
    * Steinarsson '13, simplified to fixed anchors): split EACH series into
    * `buckets` equal-count bins and keep, per bin, the point subtending
    * the largest triangle against the NEIGHBOR BINS' mean points. The
    * original algorithm anchors on the previously SELECTED point — an
    * inherently sequential choice; fixing the anchors to bucket means
    * keeps ~the same visual fidelity and makes the whole selection one
    * window pass (the standard trade for a distributed downsampler). Ties
    * break on the tiebreak column, so the kept set is deterministic.
    *
    * Scale shape: a downsampler's input is precisely the billion-point
    * raw series, so NOTHING here may ride a global window. The in-series
    * position comes from the grouped two-phase prefix sum
    * ([[CorpusOps.orderedPrefixSum]] with `groupCols` — range-partitioned
    * even WITHIN one huge series); per-series sizes attach by an
    * agg-sized equi-join; neighbor-anchor lookup is lag/lead over the
    * (series × buckets)-row means table; the final per-bucket argmax
    * window is partitioned by (series, bucket).
    *
    * Returns the ≤`buckets` kept rows per series:
    * (seriesCol, bucket, ts, value). */
  def lttbDownsample(events: DataFrame, seriesCol: String, tsCol: String,
                     tiebreakCol: String, valueCol: String, buckets: Int,
                     scoreOut: Column => Column): DataFrame = {
    require(buckets >= 3, s"need at least 3 buckets, got $buckets")
    val v = col(valueCol).cast("double")
    val based = CorpusOps.orderedPrefixSum(
      events.select(col(seriesCol), col(tsCol), col(tiebreakCol), v.as("v"),
        unix_micros(col(tsCol)).cast("double").as("t")),
      Seq(col(tsCol).asc, col(tiebreakCol).asc), lit(1L), "rn",
      groupCols = Seq(seriesCol))
    val totals = based.groupBy(seriesCol).agg(count(lit(1)).as("nt"))
    val bucketed = based.join(totals, Seq(seriesCol))
      .withColumn("bucket",
        least(floor((col("rn") - 1) * buckets / col("nt")).cast("int"),
          lit(buckets - 1)))
    val wM = Window.partitionBy(seriesCol).orderBy("bucket")
    val means = bucketed.groupBy(seriesCol, "bucket")
      .agg(avg("t").as("mt"), avg("v").as("mv"))
      .select(col(seriesCol), col("bucket"), col("mv").as("ov"),
        lag("mt", 1).over(wM).as("pt"), lag("mv", 1).over(wM).as("pv"),
        lead("mt", 1).over(wM).as("qt"), lead("mv", 1).over(wM).as("qv"))
    val wB = Window.partitionBy(seriesCol, "bucket")
      .orderBy(col("area").desc, col(tiebreakCol))
    bucketed
      .join(means, Seq(seriesCol, "bucket")) // agg-sized side; AQE broadcasts
      // interior buckets: triangle area against both neighbor anchors;
      // edge buckets (one anchor missing) keep the point furthest from
      // their own mean — the degenerate-but-deterministic fallback
      .withColumn("area",
        when(col("pt").isNotNull && col("qt").isNotNull,
          abs((col("pt") - col("t")) * (col("qv") - col("v")) -
            (col("qt") - col("t")) * (col("pv") - col("v"))))
          .otherwise(abs(col("v") - col("ov"))))
      .withColumn("rk", row_number().over(wB))
      .filter(col("rk") === 1)
      .select(col(seriesCol), col("bucket"), col(tsCol),
        scoreOut(col("v")).as("value"))
  }

  /** Cross-correlation lag scan between two hourly series: Pearson
    * correlation of (x_t, y_{t−lag}) for every lag in [0, maxLag] — "does
    * series A lead series B, and by how much", the alignment question
    * behind the reference's zone-temperature → accretion causality story.
    * ONE join does all lags: the y side explodes each point into its
    * (bounded) maxLag+1 shifted copies tagged by lag, the join keys on
    * the shifted hour, and per-lag correlations fold with the explicit
    * moment formula (identical arithmetic cross-engine; no corr()
    * built-in whose accumulation scheme could differ). Explode factor is
    * the lag budget — a constant — not data-dependent.
    *
    * Returns per lag: (lag, n, xcorr), lag 0 first. */
  def xcorrLagScan(events: DataFrame, seriesCol: String, tsCol: String,
                   valueCol: String, seriesX: String, seriesY: String,
                   maxLag: Int, scoreOut: Column => Column): DataFrame = {
    require(maxLag >= 0 && maxLag <= 168, s"lag budget must be bounded, got $maxLag")
    val hourly = events
      .select(col(seriesCol), date_trunc("hour", col(tsCol)).as("h"),
        col(valueCol).cast("double").as("v"))
      .groupBy(seriesCol, "h").agg(avg("v").as("y"))
    val x = hourly.filter(col(seriesCol) === seriesX).select(col("h"), col("y").as("xv"))
    val y = hourly.filter(col(seriesCol) === seriesY)
      .select(explode(sequence(lit(0), lit(maxLag))).as("lag"), col("h"), col("y"))
      .select(col("lag"),
        expr("h + make_interval(0, 0, 0, 0, lag, 0, 0)").as("h"),
        col("y").as("yv"))
    x.join(y, Seq("h"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"),
        avg("xv").as("mx"), avg("yv").as("my"),
        avg(col("xv") * col("yv")).as("mxy"),
        avg(col("xv") * col("xv")).as("mxx"),
        avg(col("yv") * col("yv")).as("myy"))
      .select(col("lag"), col("n"),
        scoreOut((col("mxy") - col("mx") * col("my")) /
          (sqrt(col("mxx") - col("mx") * col("mx")) *
           sqrt(col("myy") - col("my") * col("my")))).as("xcorr"))
  }

  /** Seasonal-naive forecast baseline + MASE evaluation: forecast each
    * test-window hour as the value one season (24 h) earlier, and score
    * MASE = test MAE / in-sample seasonal-naive MAE (Hyndman & Koehler
    * '06) — scale-free, defined without zero-division issues unlike MAPE,
    * and the baseline every fancier forecaster must beat. The hourly
    * series comes from one (series, hour) aggregate; the season lag is an
    * equi-join on (series, hour − 24 h) — robust to GAPS in the series,
    * where a row-offset `lag(24)` silently misaligns. Everything is
    * series-keyed; no global sorts.
    *
    * Returns per series: (series, n_test, mae_test, mae_insample, mase). */
  def seasonalNaiveMase(events: DataFrame, seriesCol: String, tsCol: String,
                        valueCol: String, testFrom: String,
                        scoreOut: Column => Column): DataFrame = {
    val hourly = events
      .select(col(seriesCol), date_trunc("hour", col(tsCol)).as("h"),
        col(valueCol).cast("double").as("v"))
      .groupBy(seriesCol, "h").agg(avg("v").as("y"))
    val lagged = hourly.select(col(seriesCol),
      (col("h") + expr("INTERVAL 24 HOURS")).as("h"), col("y").as("y_prev"))
    val joined = hourly.join(lagged, Seq(seriesCol, "h"))
      .withColumn("abs_err", abs(col("y") - col("y_prev")))
    val cut = lit(testFrom).cast("timestamp")
    val test = joined.filter(col("h") >= cut)
      .groupBy(seriesCol)
      .agg(count(lit(1)).as("n_test"), avg("abs_err").as("mae_test"))
    val insample = joined.filter(col("h") < cut)
      .groupBy(seriesCol)
      .agg(avg("abs_err").as("mae_insample"))
    test.join(insample, Seq(seriesCol))
      .select(col(seriesCol), col("n_test"),
        scoreOut(col("mae_test")).as("mae_test"),
        scoreOut(col("mae_insample")).as("mae_insample"),
        scoreOut(when(col("mae_insample") > 0, col("mae_test") / col("mae_insample")))
          .as("mase"))
  }

  /** Incremental rollup maintenance: merge a new batch's partial aggregate
    * into a stored rollup WITHOUT rescanning history — the materialized-
    * view update rule for the decomposable aggregates (sum, count, min,
    * max; avg derives as sum/count at read time). One full-outer join on
    * the rollup keys over two ROLLUP-sized tables; the raw history is
    * never touched, which at 100 TB is the whole point (the batch is a
    * day, the rollup is a year). Exactness pinned in the q152 gate:
    * merged(old, delta) ≡ recompute(all).
    *
    * Inputs carry (keys…, n, sum_v, min_v, max_v); same schema out. */
  def mergeRollup(old: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val o = old.select((keys.map(col) :+ col("n").as("n_o") :+ col("sum_v").as("s_o")
      :+ col("min_v").as("mn_o") :+ col("max_v").as("mx_o")): _*)
    val d = delta.select((keys.map(col) :+ col("n").as("n_d") :+ col("sum_v").as("s_d")
      :+ col("min_v").as("mn_d") :+ col("max_v").as("mx_d")): _*)
    o.join(d, keys, "full_outer")
      .select((keys.map(col)
        :+ (coalesce(col("n_o"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n")
        :+ (coalesce(col("s_o"), lit(0.0)) + coalesce(col("s_d"), lit(0.0))).as("sum_v")
        :+ least(coalesce(col("mn_o"), col("mn_d")), coalesce(col("mn_d"), col("mn_o"))).as("min_v")
        :+ greatest(coalesce(col("mx_o"), col("mx_d")), coalesce(col("mx_d"), col("mx_o"))).as("max_v")): _*)
  }

  /** The rollup-row shape [[mergeRollup]] maintains, from raw events. */
  def rollupOf(events: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    events.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("double")).as("sum_v"),
        min(col(valueCol).cast("double")).as("min_v"),
        max(col(valueCol).cast("double")).as("max_v"))

  /** Sketch-level merge of serialized histograms — the stored-sketch-table
    * rollup path (no raw rescan): vector-add the counters of same-shape
    * sketches. Driver-side utility for bounded sketch sets; the
    * distributed form is the aggregate itself. */
  def mergeSketches(sketches: Seq[Array[Byte]]): Array[Byte] = {
    require(sketches.nonEmpty, "nothing to merge")
    val bb0 = java.nio.ByteBuffer.wrap(sketches.head)
    val bins = bb0.getInt; val lo = bb0.getDouble; val hi = bb0.getDouble
    val acc = new Array[Long](bins + 2)
    sketches.foreach { s =>
      val bb = java.nio.ByteBuffer.wrap(s)
      val b = bb.getInt
      require(b == bins, s"shape mismatch: $b vs $bins bins")
      bb.getDouble; bb.getDouble
      var i = 0
      while (i < acc.length) { acc(i) += bb.getLong; i += 1 }
    }
    graft.functions.HistogramSketch.serialize(bins, lo, hi, acc)
  }

  /** Ordered three-step funnel (step1 → step2 → step3, each strictly
    * after the previous): per-user completion via RUNNING window minima in
    * ONE pass over the log — first_1 = min ts of step1 so far; a step2 row
    * counts only when first_1 < its ts; and so on. Equivalent to the
    * self-join formulation (min step2 after the first step1 …) but with
    * one shuffle on the user and a single scan instead of three.
    *
    * Returns one row: (n_step1, n_step2, n_step3, rate_12, rate_13) —
    * user counts completing each prefix and conversion rates. */
  def orderedFunnel(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, steps: (String, String, String),
                    scoreOut: Column => Column): DataFrame = {
    val (s1, s2, s3) = steps
    val w = Window.partitionBy(userCol).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t1 = events
      .select(col(userCol), col(tsCol), col(typeCol))
      .withColumn("f1", min(when(col(typeCol) === s1, col(tsCol))).over(w))
      .withColumn("f2", min(when(col(typeCol) === s2 && col("f1") < col(tsCol),
        col(tsCol))).over(w))
    val t2 = t1
      .withColumn("f3", min(when(col(typeCol) === s3 && col("f2") < col(tsCol),
        col(tsCol))).over(w))
    val perUser = t2.groupBy(userCol).agg(
      max(col("f1").isNotNull.cast("int")).as("c1"),
      max(col("f2").isNotNull.cast("int")).as("c2"),
      max(col("f3").isNotNull.cast("int")).as("c3"))
    perUser.agg(
      sum("c1").as("n_step1"), sum("c2").as("n_step2"), sum("c3").as("n_step3"))
      .select(col("n_step1"), col("n_step2"), col("n_step3"),
        scoreOut(col("n_step2").cast("double") / col("n_step1")).as("rate_12"),
        scoreOut(col("n_step3").cast("double") / col("n_step1")).as("rate_13"))
  }

  /** Top-k user-journey trigrams: the most common 3-step event-type
    * sequences across all users — the "what do people actually do"
    * summary behind funnel design (the trigram LM of the event stream,
    * one order up from [[markovTransitions]]). Two leads per user window
    * build the chains; counts collapse to a (≤ |types|³)-key aggregate;
    * the top-k is TakeOrdered with full-gram tiebreaks, never a global
    * rank window. Share = n / all complete trigrams (1-row broadcast).
    *
    * Returns top-k rows: (step1, step2, step3, n, share). */
  def journeyTrigrams(events: DataFrame, userCol: String, tsCol: String,
                      tieCol: String, typeCol: String, topK: Int,
                      scoreOut: Column => Column): DataFrame = {
    require(topK >= 1 && topK <= 10000, s"topK must be bounded, got $topK")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    val grams = events
      .select(col(userCol), col(tsCol), col(tieCol), col(typeCol).as("step1"))
      .withColumn("step2", lead("step1", 1).over(w))
      .withColumn("step3", lead("step1", 2).over(w))
      .filter(col("step2").isNotNull && col("step3").isNotNull)
      .groupBy("step1", "step2", "step3").agg(count(lit(1)).as("n"))
    val tot = grams.agg(sum("n").as("nt"))
    grams.crossJoin(broadcast(tot))
      .select(col("step1"), col("step2"), col("step3"), col("n"),
        scoreOut(col("n") / col("nt")).as("share"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(topK)
  }

  /** Winsorized statistics per group: mean/min/max after clamping to the
    * group's [pLo, pHi] percentiles — the robust-location report that
    * keeps a fat-fingered 10⁶ entry from moving a dashboard mean, without
    * discarding rows (the winsorize-don't-trim convention). Percentile
    * bounds come from one grouped aggregate and join back agg-sized; the
    * clamp is row-local. The gate uses exact `percentile` for oracle
    * parity; at 100 TB swap the bounds aggregate to `approx_percentile`
    * (mergeable sketch, no per-group value buffer) — the clamp algebra is
    * unchanged, the q17 substitution convention.
    *
    * Returns per group: (groupCol, n, n_clipped_lo, n_clipped_hi, p_lo,
    * p_hi, mean_raw, mean_winsorized). */
  def winsorizedStats(events: DataFrame, groupCol: String, valueCol: String,
                      pLo: Double, pHi: Double,
                      scoreOut: Column => Column): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1")
    val v = col(valueCol).cast("double")
    val base = events.select(col(groupCol), v.as("v"))
    val bounds = base.groupBy(groupCol).agg(
      expr(s"percentile(v, $pLo)").as("lo"),
      expr(s"percentile(v, $pHi)").as("hi"))
    base.join(bounds, Seq(groupCol))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum((col("v") < col("lo")).cast("long")).as("n_clipped_lo"),
        sum((col("v") > col("hi")).cast("long")).as("n_clipped_hi"),
        max("lo").as("lo"), max("hi").as("hi"),
        avg("v").as("m_raw"),
        avg(least(greatest(col("v"), col("lo")), col("hi"))).as("m_win"))
      .select(col(groupCol), col("n"), col("n_clipped_lo"), col("n_clipped_hi"),
        scoreOut(col("lo")).as("p_lo"), scoreOut(col("hi")).as("p_hi"),
        scoreOut(col("m_raw")).as("mean_raw"),
        scoreOut(col("m_win")).as("mean_winsorized"))
  }

  /** Last-touch attribution: each conversion event's value is credited to
    * the user's most recent PRIOR non-conversion event type (the
    * touchpoint) — the marketing-attribution primitive that closes the
    * loop between the funnel (q140) and revenue. One window pass over the
    * user-keyed order (the `last(..., ignoreNulls)` trailing frame ending
    * at −1 row excludes the conversion itself and earlier conversions
    * never match the non-conversion predicate), then a channel-keyed
    * aggregate over conversions only — conversions with no prior
    * touchpoint land in the "(none)" bucket so revenue is conserved.
    *
    * Returns (channel, n_conversions, revenue). */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
                           tiebreakCol: String, typeCol: String,
                           valueCol: String, conversionType: String,
                           scoreOut: Column => Column): DataFrame = {
    val ord = Window.partitionBy(userCol).orderBy(col(tsCol), col(tiebreakCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col(userCol), col(tsCol), col(tiebreakCol),
        col(typeCol), col(valueCol).cast("double").as("__v"))
      .withColumn("__touch",
        last(when(col(typeCol) =!= conversionType, col(typeCol)),
          ignoreNulls = true).over(ord))
      .filter(col(typeCol) === conversionType)
      .groupBy(coalesce(col("__touch"), lit("(none)")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        scoreOut(sum("__v")).as("revenue"))
  }

  /** Conversion lag: per user, the delay from the FIRST `fromType` event
    * to the first `toType` event at-or-after it, summarized as conversion
    * rate + lag percentiles — "how long from first view to first
    * purchase", the funnel's time dimension. One user-keyed conditional
    * aggregate builds both firsts (the to-side is a conditional min over
    * events ≥ the from time via a two-pass: min(from), then min(to ≥
    * from) — expressed as one join-free window pair per user); lags then
    * collapse to a single summary row. The lag percentiles are exact for
    * oracle parity — at 100 TB (billions of converting users) swap to
    * `approx_percentile`, the q17 substitution convention.
    *
    * Returns one row: (n_users_from, n_converted, conversion_rate,
    * median_lag_s, p90_lag_s). */
  def conversionLag(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, fromType: String, toType: String,
                    scoreOut: Column => Column): DataFrame = {
    val t = col(tsCol)
    val firstFrom = events.filter(col(typeCol) === fromType)
      .groupBy(userCol).agg(min(t).as("t_from"))
    val tos = events.filter(col(typeCol) === toType)
      .select(col(userCol), t.as("t_to"))
    // conditional min, NOT filter-then-min: a user whose to-events all
    // precede t_from must still count as unconverted, not vanish
    val lagged = firstFrom.join(tos, Seq(userCol), "left")
      .groupBy(userCol, "t_from")
      .agg(min(when(col("t_to") >= col("t_from"), col("t_to"))).as("t_conv"))
      .withColumn("lag_s",
        (unix_micros(col("t_conv")) - unix_micros(col("t_from"))) / lit(1e6))
    lagged.agg(
        count(lit(1)).as("n_users_from"),
        count(col("t_conv")).as("n_converted"),
        expr("percentile(lag_s, 0.5)").as("med"),
        expr("percentile(lag_s, 0.9)").as("p90"))
      .select(col("n_users_from"), col("n_converted"),
        scoreOut(col("n_converted").cast("double") / col("n_users_from"))
          .as("conversion_rate"),
        scoreOut(col("med")).as("median_lag_s"),
        scoreOut(col("p90")).as("p90_lag_s"))
  }

  /** Audience co-engagement matrix: per event-type pair, the Jaccard
    * overlap of their USER bases — "do purchasers also click", the
    * audience-planning cousin of [[SeasonalOps.seriesCorrMatrix]] (which
    * correlates volumes, not membership). The raw log collapses to
    * DISTINCT (user, type) map-side; pair counts come from the self-join
    * on the user key (per-user fanout = type-set size², panel-bounded);
    * per-type totals attach agg-sized.
    *
    * Returns per pair (type_a < type_b): (type_a, type_b, n_users_a,
    * n_users_b, n_both, jaccard). */
  def coEngagement(events: DataFrame, userCol: String, typeCol: String,
                   scoreOut: Column => Column): DataFrame = {
    val ut = events.select(col(userCol).as("u"), col(typeCol).as("t")).distinct()
    val totals = ut.groupBy("t").agg(count(lit(1)).as("n"))
    val pairs = ut.select(col("u"), col("t").as("type_a"))
      .join(ut.select(col("u"), col("t").as("type_b")), Seq("u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    pairs
      .join(totals.select(col("t").as("type_a"), col("n").as("n_users_a")), Seq("type_a"))
      .join(totals.select(col("t").as("type_b"), col("n").as("n_users_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_users_a"), col("n_users_b"),
        col("n_both"),
        scoreOut(col("n_both").cast("double") /
          (col("n_users_a") + col("n_users_b") - col("n_both"))).as("jaccard"))
  }

  /** Market-basket association rules over per-user event-type sets —
    * [[coEngagement]]'s overlap counts upgraded to the full
    * support/confidence/lift triple (Agrawal '93): which behaviors
    * predict which, and is the pairing more than chance (lift > 1). The
    * raw log collapses to DISTINCT (user, type) map-side; pair counts
    * come from the user-keyed self-join (per-user fanout = type-set
    * size², panel-bounded); totals attach agg-sized and the user
    * denominator is one scalar-aggregate crossjoin. A `minSupport` cut
    * keeps the rule table actionable.
    *
    * Returns per pair (type_a < type_b): (type_a, type_b, n_both,
    * support, conf_a_to_b, conf_b_to_a, lift). */
  def assocRules(events: DataFrame, userCol: String, typeCol: String,
                 minSupport: Double, scoreOut: Column => Column): DataFrame = {
    val ut = events.select(col(userCol).as("u"), col(typeCol).as("t")).distinct()
    val nTab = ut.agg(countDistinct("u").cast("double").as("__nu"))
    val totals = ut.groupBy("t").agg(count(lit(1)).as("n"))
    val both = col("n_both").cast("double")
    ut.select(col("u"), col("t").as("type_a"))
      .join(ut.select(col("u"), col("t").as("type_b")), Seq("u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
      .join(totals.select(col("t").as("type_a"), col("n").as("__na")), Seq("type_a"))
      .join(totals.select(col("t").as("type_b"), col("n").as("__nb")), Seq("type_b"))
      .crossJoin(nTab)
      .filter(both / col("__nu") >= minSupport)
      .select(col("type_a"), col("type_b"), col("n_both"),
        scoreOut(both / col("__nu")).as("support"),
        scoreOut(both / col("__na")).as("conf_a_to_b"),
        scoreOut(both / col("__nb")).as("conf_b_to_a"),
        scoreOut(both * col("__nu") / (col("__na") * col("__nb"))).as("lift"))
  }

  /** New-vs-returning daily split: per calendar day, how many active
    * users were seen for the FIRST time that day — the growth-vs-
    * retention read every product dashboard leads with. The log collapses
    * to distinct (user, day) map-side; first-seen day is a per-user min
    * over that collapsed table; the daily split is one aggregate. Dates
    * cross the oracle compare as formatted strings (driver convention).
    *
    * Returns per day: (day, n_active, n_new, n_returning). */
  def newVsReturning(events: DataFrame, userCol: String, tsCol: String,
                     scoreOut: Column => Column): DataFrame = {
    val ud = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("d")).distinct()
    val first = ud.groupBy("u").agg(min("d").as("d0"))
    ud.join(first, Seq("u"))
      .groupBy("d")
      .agg(count(lit(1)).as("n_active"),
        sum((col("d") === col("d0")).cast("long")).as("n_new"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
  }

  /** Rolling 7-day active users per day (WAU curve): for each calendar
    * day, the distinct users active in the trailing 7-day window. Exact
    * form: each distinct (user, day) row EXPLODES into the ≤`windowDays`
    * grid days it covers (a bounded constant-factor fanout of 8-byte
    * pairs), then one distinct count per grid day — every join/aggregate
    * is an equi operation; a range join against the grid would plan a
    * nested-loop of user-days × days comparisons. The synthetic coverage
    * days clip to the OBSERVED grid by an agg-sized semi join, so days
    * with no activity at all emit no row (matching the SQL oracle). At
    * extreme scale substitute mergeable per-day HLL sketches unioned 7
    * (the q106 rollup machinery); the exact form here is the oracle
    * surface.
    *
    * Returns per day: (day, n_active_7d). */
  def rollingActiveUsers(events: DataFrame, userCol: String, tsCol: String,
                         windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1 && windowDays <= 92, s"window must be bounded, got $windowDays")
    val ud = events
      .select(col(userCol).as("u"), to_date(col(tsCol)).as("d")).distinct()
    val grid = ud.select(col("d").as("g")).distinct()
    ud.select(col("u"),
        explode(sequence(col("d"), date_add(col("d"), windowDays - 1))).as("g"))
      .join(grid, Seq("g"), "left_semi")
      .groupBy("g")
      .agg(countDistinct(col("u")).as("n_active_7d"))
      .select(date_format(col("g"), "yyyy-MM-dd").as("day"), col("n_active_7d"))
  }

  /** Outage/gap inventory: per series, the inter-event gaps exceeding
    * `minGapHours` — the "sensor went dark" report a pipeline reads
    * before trusting any rolling statistic over the affected range. One
    * lag window per series; output is gap-sized, not event-sized.
    *
    * Returns (seriesCol, gap_start, gap_end, gap_hours) per outage,
    * gap_start = last event before silence. */
  def gapOutages(events: DataFrame, seriesCol: String, tsCol: String,
                 minGapHours: Double,
                 scoreOut: Column => Column): DataFrame = {
    val w = Window.partitionBy(seriesCol).orderBy(tsCol)
    events
      .select(col(seriesCol), col(tsCol).as("gap_end"),
        lag(col(tsCol), 1).over(w).as("gap_start"))
      .withColumn("gap_hours",
        (unix_micros(col("gap_end")) - unix_micros(col("gap_start")))
          / lit(3600e6))
      .filter(col("gap_hours") > minGapHours)
      .select(col(seriesCol), col("gap_start"), col("gap_end"),
        scoreOut(col("gap_hours")).as("gap_hours"))
  }

  /** Time-decay multi-touch attribution — the third of the attribution
    * family ([[lastTouchAttribution]], [[linearAttribution]]): each touch
    * before a conversion earns weight 0.5^(Δhours/halfLife), normalized
    * within the conversion group, so recency is rewarded smoothly instead
    * of linear's equal split or last-touch's winner-take-all. Identical
    * scale shape to linear: the reverse-running conversion index buckets
    * touches join-free, the (user, grp) windows reuse ONE user-keyed
    * exchange, and revenue is conserved via the `(none)` bucket for
    * touchless conversions. Gap arithmetic is exact integer microseconds
    * before the one pow() per touch.
    *
    * Returns per channel: (channel, n_touches, revenue). */
  def timeDecayAttribution(events: DataFrame, userCol: String, tsCol: String,
                           tiebreakCol: String, typeCol: String,
                           valueCol: String, conversionType: String,
                           halfLifeHours: Double,
                           scoreOut: Column => Column): DataFrame = {
    require(halfLifeHours > 0, s"halfLifeHours > 0, got $halfLifeHours")
    val isConv = (col(typeCol) === conversionType).cast("long")
    val revOrd = Window.partitionBy(userCol)
      .orderBy(col(tsCol).desc, col(tiebreakCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grouped = events
      .select(col(userCol), col(tsCol), col(tiebreakCol), col(typeCol),
        col(valueCol).cast("double").as("__v"),
        unix_micros(col(tsCol)).as("__us"))
      .withColumn("__grp", sum(isConv).over(revOrd))
      .filter(col("__grp") > 0)
    val wG = Window.partitionBy(col(userCol), col("__grp"))
    val credited = grouped
      .withColumn("__cv", max(when(isConv === 1, col("__v"))).over(wG))
      .withColumn("__cus", max(when(isConv === 1, col("__us"))).over(wG))
      .withColumn("__w", when(isConv === 0,
        pow(lit(0.5), (col("__cus") - col("__us")).cast("double") /
          lit(3600e6 * halfLifeHours))))
      .withColumn("__sw", sum("__w").over(wG))
    credited
      .select(
        when(isConv === 0, col(typeCol)).otherwise(lit("(none)")).as("channel"),
        when(isConv === 0, col("__cv") * col("__w") / col("__sw"))
          .when(col("__sw").isNull, col("__v")).as("__credit"))
      .filter(col("__credit").isNotNull)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        scoreOut(sum("__credit")).as("revenue"))
  }

  /** Linear (even-split) multi-touch attribution: every conversion's
    * value splits EQUALLY across the touch events (non-conversion rows)
    * between the previous conversion and it — the fairness counterpart to
    * [[lastTouchAttribution]], and the two bracket any position-weighted
    * scheme. Touch→conversion assignment is join-free: a REVERSE running
    * count of conversions per user gives every row the index of its next
    * conversion (same index ⇒ same attribution group), then one more
    * window over (user, group) — hash(user) already satisfies the
    * (user, group) clustering, so the second window adds a sort but NO
    * second exchange. Conversions with no prior touches keep their full
    * value in the "(none)" bucket, so revenue is conserved exactly.
    *
    * Returns (channel, n_touches, revenue) — Σ revenue = Σ conversion
    * value. */
  def linearAttribution(events: DataFrame, userCol: String, tsCol: String,
                        tiebreakCol: String, typeCol: String,
                        valueCol: String, conversionType: String,
                        scoreOut: Column => Column): DataFrame = {
    val isConv = (col(typeCol) === conversionType).cast("long")
    val revOrd = Window.partitionBy(userCol)
      .orderBy(col(tsCol).desc, col(tiebreakCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grouped = events
      .select(col(userCol), col(tsCol), col(tiebreakCol), col(typeCol),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__grp", sum(isConv).over(revOrd))
      .filter(col("__grp") > 0) // touches after the last conversion: no credit
    val wG = Window.partitionBy(col(userCol), col("__grp"))
    val credited = grouped
      .withColumn("__cv", max(when(isConv === 1, col("__v"))).over(wG))
      .withColumn("__nt", sum(lit(1L) - isConv).over(wG))
    credited
      .select(
        when(isConv === 0, col(typeCol)).otherwise(lit("(none)")).as("channel"),
        when(isConv === 0, col("__cv") / col("__nt"))
          .when(col("__nt") === 0, col("__v")).as("__credit"))
      .filter(col("__credit").isNotNull)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        scoreOut(sum("__credit")).as("revenue"))
  }

  /** Shapley-value attribution (Shapley '53 applied à la Zhao '18) — the
    * order-free, game-theoretic completion of the attribution family:
    * last-touch (q216) over-credits closers, linear (q229) ignores
    * synergy; the Shapley value φᵢ = Σ_{S⊆C∖{i}} |S|!(|C|−|S|−1)!/|C|! ·
    * (v(S∪{i}) − v(S)) credits each channel its average marginal
    * contribution across all join orders. The coalition value v(S) is
    * the observed conversion rate among users whose touch set is
    * EXACTLY S (unobserved sets contribute v = 0 — the standard
    * simplified estimator; with it the efficiency axiom holds only up
    * to coverage, which the output reports).
    *
    * Scale shape: users collapse map-side to one (mask, converted) row
    * (bit per channel); v lives on a 2^|C|-row table and the Shapley
    * sum is a tiny mask × channel join — the raw log is scanned ONCE.
    * |C| is the channel VOCABULARY (≤ ~dozens), never data volume;
    * past ~20 channels the 2^|C| table is the knob and the documented
    * swap is sampled permutations. */
  def shapleyAttribution(events: DataFrame, userCol: String, typeCol: String,
                         channels: Seq[String], conversionType: String,
                         scoreOut: Column => Column): DataFrame = {
    require(channels.nonEmpty && channels.size <= 16,
      s"2^|C| table must stay bounded, got ${channels.size} channels")
    require(!channels.contains(conversionType),
      "the conversion event is not a credit channel")
    val spark = events.sparkSession
    import spark.implicits._
    val n = channels.size
    val mask = channels.zipWithIndex.map { case (c, i) =>
      when(max(when(col(typeCol) === c, 1).otherwise(0)) === 1,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    val perUser = events
      .groupBy(col(userCol))
      .agg(mask.as("mask"),
        max((col(typeCol) === conversionType).cast("int")).as("conv"))
    val v = perUser.groupBy("mask")
      .agg(count(lit(1)).as("n_users"), sum("conv").as("n_conv"),
        scoreOut(avg("conv")).as("v"))
    // factorial weights by |S|, n ≤ 16 → exact longs (the product must
    // accumulate in Long: Int overflows at 13!, silently corrupting the
    // weights for the 13-16 channel range the require above permits)
    def fact(i: Int): Long = (1L to i).product
    val wBySize = (0 until n).map(s =>
      s -> fact(s) * fact(n - 1 - s).toDouble / fact(n))
    val chan = channels.zipWithIndex
      .map { case (c, i) => (c, 1 << i) }.toDF("channel", "bitval")
    // every (channel, S without channel) pair over the tiny mask domain
    val masks = (0 until (1 << n)).toDF("s")
    val pairs = chan.crossJoin(masks)
      .filter(col("s").bitwiseAND(col("bitval")) === 0)
      .withColumn("s_with", col("s") + col("bitval"))
    val wExpr = wBySize.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(bit_count(col("s")) === s, lit(w)).otherwise(acc)
    }
    val vS = v.select(col("mask").as("s"), col("v").as("v_s"))
    val vSi = v.select(col("mask").as("s_with"), col("v").as("v_si"))
    val phi = pairs
      .join(vS, Seq("s"), "left").join(vSi, Seq("s_with"), "left")
      .withColumn("__w", wExpr)
      .groupBy("channel")
      .agg(scoreOut(sum(col("__w") *
        (coalesce(col("v_si"), lit(0.0)) - coalesce(col("v_s"), lit(0.0)))))
        .as("phi"))
    val cover = v.agg(scoreOut(
      sum(when(col("mask") =!= 0, col("n_conv"))).cast("double") /
        sum(col("n_conv"))).as("__cov"))
    phi.crossJoin(cover)
      .select(col("channel"), col("phi"),
        col("__cov").as("touched_conv_share"))
  }

  /** Item-item collaborative similarity (the "users who touched X also
    * touched Y" table): binary user×item interactions → per-pair cosine
    * n_both / √(n_a·n_b) → top-`k` neighbors per item. The raw log
    * collapses map-side to DISTINCT (user, item); pair candidates come
    * from the user-keyed self-join, so the fanout is per-user basket
    * size², never |users|·|items| — the classic item-CF shape (Linden
    * '03). At 100 TB the basket-size² fanout is the knob: `maxBasket`
    * caps each user's basket at the B most recent items (per-user
    * `row_number ≤ B` over `recencyCol` DESC — a bounded partitioned
    * sort) BEFORE pairing, so one power user with a 100k-item basket
    * contributes at most B² pairs instead of 10^10; power users past B
    * add noise, not signal. With no `recencyCol` the cap falls back to
    * the item id order (still bounded, just not recency-ranked).
    *
    * Ranking is over the ROUNDED cosine (scoreOut) with the neighbor id
    * as tiebreak, so the top-k cut is reproducible cross-engine.
    *
    * Returns (item, neighbor, n_item, n_neighbor, n_both, cosine, rn)
    * with rn ≤ k, both directions of each pair present. */
  def itemNeighbors(events: DataFrame, userCol: String, itemCol: String,
                    k: Int, scoreOut: Column => Column,
                    maxBasket: Int = Int.MaxValue,
                    recencyCol: Option[String] = None): DataFrame = {
    require(maxBasket >= 1, s"maxBasket must be >= 1, got $maxBasket")
    val uiAll = recencyCol match {
      case Some(ts) => events
        .select(col(userCol).as("u"), col(itemCol).as("item"), col(ts).as("__ts"))
        .groupBy("u", "item").agg(max("__ts").as("__last"))
      case None => events
        .select(col(userCol).as("u"), col(itemCol).as("item"))
        .distinct().withColumn("__last", lit(null))
    }
    val capped =
      if (maxBasket == Int.MaxValue) uiAll
      else {
        // most-recent-first, item id tiebreak → a deterministic bounded cut
        val wb = Window.partitionBy("u")
          .orderBy(col("__last").desc_nulls_last, col("item"))
        uiAll.withColumn("__rn", row_number().over(wb))
          .filter(col("__rn") <= maxBasket)
      }
    val ui = capped.select("u", "item").persist()
    val totals = ui.groupBy("item").agg(count(lit(1)).as("n"))
    val pairs = ui.select(col("u"), col("item").as("item_a"))
      .join(ui.select(col("u"), col("item").as("item_b")), Seq("u"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_both"))
    val scored = pairs
      .join(totals.select(col("item").as("item_a"), col("n").as("n_a")), "item_a")
      .join(totals.select(col("item").as("item_b"), col("n").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_both"),
        scoreOut(col("n_both").cast("double") /
          sqrt(col("n_a").cast("double") * col("n_b"))).as("cosine"))
    // mirror to both directions so every item ranks its own neighbors
    val sym = scored.select(col("item_a").as("item"), col("item_b").as("neighbor"),
        col("n_a").as("n_item"), col("n_b").as("n_neighbor"),
        col("n_both"), col("cosine"))
      .unionAll(scored.select(col("item_b").as("item"), col("item_a").as("neighbor"),
        col("n_b").as("n_item"), col("n_a").as("n_neighbor"),
        col("n_both"), col("cosine")))
    val w = Window.partitionBy("item")
      .orderBy(col("cosine").desc, col("neighbor"))
    sym.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Longest consecutive-day activity streak per user (gaps-and-islands):
    * collapse the log to DISTINCT (user, day), island id = day −
    * row_number (consecutive days share it), one aggregate per island,
    * then the per-user best island by (length DESC, start ASC). All
    * windows are user-partitioned; state per user is bounded by the
    * calendar horizon. Day columns come back as formatted strings (the
    * cross-engine DATE discipline).
    *
    * Returns (user, n_active_days, n_streaks, longest_streak,
    * streak_start, streak_end). */
  def activityStreaks(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ud = events.select(col(userCol).as("u"), to_date(col(tsCol)).as("d"))
      .distinct()
    val w = Window.partitionBy("u").orderBy("d")
    val islands = ud
      .withColumn("__g", date_sub(col("d"), row_number().over(w)))
      .groupBy("u", "__g")
      .agg(count(lit(1)).as("len"), min("d").as("start"), max("d").as("end"))
    islands.groupBy(col("u").as("user"))
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        // (len, −epoch-day) max = longest streak, earliest start on ties
        max(struct(col("len"), (-unix_date(col("start"))).as("__ns")))
          .as("__best"))
      .select(col("user"), col("n_active_days"), col("n_streaks"),
        col("__best.len").as("longest_streak"),
        date_format(date_from_unix_date(-col("__best.__ns")), "yyyy-MM-dd")
          .as("streak_start"),
        date_format(date_add(date_from_unix_date(-col("__best.__ns")),
            col("__best.len").cast("int") - 1), "yyyy-MM-dd")
          .as("streak_end"))
  }

  /** Weekly growth accounting (the new/retained/resurrected/churned
    * decomposition): each active (user, week) is classified by the gap to
    * the user's PREVIOUS active week — first week = new, exactly one week
    * = retained, longer = resurrected — and a user whose NEXT active week
    * is more than one week away (or absent) emits a churned row in the
    * week after their last activity, so `new + resurrected − churned`
    * telescopes to the net-active delta week over week.
    *
    * Scale shape: the log collapses to the distinct (user, week) table
    * first; both lag and lead come from ONE user-partitioned window over
    * that collapsed table; the final rollup is a counting aggregate.
    * Week columns cross the gate as formatted strings (DATE discipline).
    *
    * Returns (week, n_new, n_retained, n_resurrected, n_churned). */
  def growthAccounting(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val uw = events.select(col(userCol).as("u"),
      date_trunc("week", col(tsCol)).cast("date").as("w")).distinct()
    val win = Window.partitionBy("u").orderBy("w")
    val marked = uw
      .withColumn("__lag", lag(col("w"), 1).over(win))
      .withColumn("__lead", lead(col("w"), 1).over(win))
    val active = marked.select(col("w"),
      when(col("__lag").isNull, "new")
        .when(datediff(col("w"), col("__lag")) === 7, "retained")
        .otherwise("resurrected").as("cls"))
    val churned = marked
      .filter(col("__lead").isNull || datediff(col("__lead"), col("w")) > 7)
      .select(date_add(col("w"), 7).as("w"), lit("churned").as("cls"))
    active.unionAll(churned)
      .groupBy("w")
      .agg(count(when(col("cls") === "new", 1)).as("n_new"),
        count(when(col("cls") === "retained", 1)).as("n_retained"),
        count(when(col("cls") === "resurrected", 1)).as("n_resurrected"),
        count(when(col("cls") === "churned", 1)).as("n_churned"))
      .select(date_format(col("w"), "yyyy-MM-dd").as("week"),
        col("n_new"), col("n_retained"), col("n_resurrected"),
        col("n_churned"))
  }

  /** Weekly-cohort revenue retention matrix (the "NRR curve" input): users
    * are assigned the Monday-truncated week of their FIRST event; each
    * (cohort, age-in-weeks) cell reports active users, revenue, and
    * revenue as a fraction of the cohort's week-0 revenue. Dollar
    * retention, not just headcount — the difference between "users came
    * back" and "value came back".
    *
    * Scale shape: first-week per user is one user-keyed aggregate joined
    * back on the same key (one shuffle, reused); the matrix is one hash
    * aggregate; week-0 joins back cohort-sized (broadcast). No window.
    * Week columns cross the gate as formatted strings (DATE discipline).
    *
    * Returns (cohort_week, age_weeks, n_active_users, revenue,
    * pct_of_week0). */
  def revenueCohorts(events: DataFrame, userCol: String, tsCol: String,
                     valueCol: String, scoreOut: Column => Column): DataFrame = {
    val ev = events.select(col(userCol).as("u"),
      date_trunc("week", col(tsCol)).cast("date").as("w"),
      col(valueCol).cast("double").as("v"))
    val firstWeek = ev.groupBy("u").agg(min("w").as("cw"))
    val cells = ev.join(firstWeek, "u")
      .groupBy(col("cw"),
        floor(datediff(col("w"), col("cw")) / lit(7)).cast("int").as("age_weeks"))
      .agg(count_distinct(col("u")).as("n_active_users"),
        sum("v").as("__rev"))
    val week0 = cells.filter(col("age_weeks") === 0)
      .select(col("cw"), col("__rev").as("__rev0"))
    cells.join(broadcast(week0), "cw")
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("age_weeks"), col("n_active_users"),
        scoreOut(col("__rev")).as("revenue"),
        scoreOut(col("__rev") / col("__rev0")).as("pct_of_week0"))
  }

  /** RFM segmentation (Hughes '94): per-user recency (days since last
    * event vs the global anchor day), frequency (event count) and monetary
    * (value sum), each scored 1-5 by its empirical quintile, plus the
    * classic segment labels over the (r,f) plane. Quintile scoring is by
    * THRESHOLD comparison — score = 1 + #{quintile cuts strictly below the
    * metric} (reversed for recency, where smaller is better) — so ties at
    * a cut land deterministically on the lower score and NO global ranking
    * window exists anywhere: the cuts are one scalar aggregate (exact
    * `percentile` at gate scale; the documented 100 TB swap is
    * `approx_percentile`, same contract) broadcast back, and scoring is a
    * per-row comparison. Cuts and monetary are rounded by `scoreOut` on
    * both engines before comparing, so interpolated cut bits can never
    * disagree cross-engine.
    *
    * Returns (user, recency_days, frequency, monetary, r_score, f_score,
    * m_score, segment). */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  valueCol: String, scoreOut: Column => Column): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("user"))
      .agg(max(to_date(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast("double")).as("__mon"))
      .crossJoin(broadcast(
        events.agg(max(to_date(col(tsCol))).as("__anchor"))))
      .select(col("user"),
        datediff(col("__anchor"), col("__last")).as("recency_days"),
        col("frequency"), scoreOut(col("__mon")).as("monetary"))
    val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
    val cuts = perUser.agg(
      transform(percentile(col("recency_days"), qs), scoreOut).as("__cr"),
      transform(percentile(col("frequency"), qs), scoreOut).as("__cf"),
      transform(percentile(col("monetary"), qs), scoreOut).as("__cm"))
    def above(x: Column, cutsCol: Column): Column =
      lit(1) + aggregate(cutsCol, lit(0),
        (acc, c) => acc + when(x > c, 1).otherwise(0))
    def below(x: Column, cutsCol: Column): Column =
      lit(1) + aggregate(cutsCol, lit(0),
        (acc, c) => acc + when(x < c, 1).otherwise(0))
    val scored = perUser.crossJoin(broadcast(cuts))
      .select(col("user"), col("recency_days"), col("frequency"), col("monetary"),
        below(col("recency_days").cast("double"), col("__cr")).as("r_score"),
        above(col("frequency").cast("double"), col("__cf")).as("f_score"),
        above(col("monetary"), col("__cm")).as("m_score"))
    scored.withColumn("segment",
      when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
        "champion")
        .when(col("r_score") >= 4 && col("f_score") <= 2, "new")
        .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
        .when(col("r_score") <= 2, "hibernating")
        .otherwise("regular"))
  }
}
