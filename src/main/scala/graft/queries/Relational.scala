package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Q.{dec4, dec6}
import scala.collection.immutable.ListMap

/** Relational core: scans, projection/filter, joins, aggregation, pivot,
  * top-k, set ops (SURVEY §2.1-2.3, §2.5-2.6, §2.8-2.10) demonstrated on the
  * TPC-H-ish testdata. Every query has a DuckDB oracle. */
object Relational {

  /** The single source of truth for q194's column set — the Spark side
    * and the generated oracle both read it. */
  private val profileCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "numeric", "l_partkey" -> "numeric",
    "l_suppkey" -> "numeric", "l_linenumber" -> "numeric",
    "l_quantity" -> "numeric", "l_extendedprice" -> "numeric",
    "l_discount" -> "numeric", "l_tax" -> "numeric",
    "l_returnflag" -> "string", "l_linestatus" -> "string",
    "l_shipdate" -> "other")


  val queries: ListMap[String, Q] = ListMap(

    // S1/S6 + A1-ish: pricing summary (scan with pushed filter, hash agg).
    // Maps the reference's load + dup-key group-mean (`pre_processing.py:97-99`).
    "q01_pricing_summary" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") < to_timestamp(lit("2000-01-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dec4(sum("l_quantity")).as("sum_qty"),
          dec4(sum("l_extendedprice")).as("sum_base_price"),
          dec4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          dec6(avg("l_quantity")).as("avg_qty"),
          dec6(avg("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |floor((sum(l_quantity)) * 10000.0 + 0.500618034) / 10000.0 AS sum_qty,
              |floor((sum(l_extendedprice)) * 10000.0 + 0.500618034) / 10000.0 AS sum_base_price,
              |floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.500618034) / 10000.0 AS sum_disc_price,
              |floor((avg(l_quantity)) * 1000000.0 + 0.500618034) / 1000000.0 AS avg_qty,
              |floor((avg(l_discount)) * 1000000.0 + 0.500618034) / 1000000.0 AS avg_disc,
              |count(*) AS count_order
              |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // P1/P2: projection + time-range predicate, both pushed to the parquet scan.
    "q02_filter_project" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(to_timestamp(lit("1996-01-01")), to_timestamp(lit("1996-12-31")))
          && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
             |  AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // J2 + A1: multi-way equi join; nation/region are broadcast (tiny dims).
    "q03_join_agg" -> Q(
      (s, d) => Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dec4(sum("o_totalprice")).as("total_price"))
        .orderBy("r_name", "c_mktsegment"),
      Some(s"""SELECT r_name, c_mktsegment, count(*) AS n_orders,
              |floor((sum(o_totalprice)) * 10000.0 + 0.500618034) / 10000.0 AS total_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name, c_mktsegment ORDER BY r_name, c_mktsegment""".stripMargin)),

    // O3/A7: top-k by aggregate (TakeOrderedAndProject — no full sort at scale).
    "q04_topk_customers" -> Q(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(dec4(sum("o_totalprice")).as("total"), count(lit(1)).as("n_orders"))
        .orderBy(col("total").desc, col("o_custkey"))
        .limit(10),
      Some(s"""SELECT o_custkey, floor((sum(o_totalprice)) * 10000.0 + 0.500618034) / 10000.0 AS total, count(*) AS n_orders
              |FROM orders GROUP BY o_custkey
              |ORDER BY total DESC, o_custkey LIMIT 10""".stripMargin)),

    // P3: latest row per key via row_number (reference `.iloc[-1:]`, `dashboard.py:263`).
    "q05_latest_per_user" -> Q(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_id", "ts", "event_type", "value")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, ts, event_type, value FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
             |ORDER BY user_id""".stripMargin)),

    // Anti + semi joins (reference boolean-mask exclusion,
    // `train_models_simple.py:682-688`): customers with no high-value order.
    "q06_anti_join" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    // A5: column statistics pass (variance/distinct/nulls) used by the
    // reference's zero-variance prune (`train_models_simple.py:277-281`).
    // At 100 TB swap countDistinct -> approx_count_distinct.
    "q07_column_stats" -> Q(
      (s, d) => Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        dec6(avg("l_quantity")).as("avg_qty"),
        dec6(var_samp(col("l_quantity"))).as("var_qty"),
        dec6(stddev_samp(col("l_quantity"))).as("std_qty"),
        sum(col("l_quantity").isNull.cast("int")).as("null_qty")),
      Some(s"""SELECT count(*) AS n_rows,
              |count(DISTINCT l_partkey) AS n_parts,
              |count(DISTINCT l_suppkey) AS n_supps,
              |floor((avg(l_quantity)) * 1000000.0 + 0.500618034) / 1000000.0 AS avg_qty,
              |floor((var_samp(l_quantity)) * 1000000.0 + 0.500618034) / 1000000.0 AS var_qty,
              |floor((stddev_samp(l_quantity)) * 1000000.0 + 0.500618034) / 1000000.0 AS std_qty,
              |CAST(sum(CAST(l_quantity IS NULL AS INT)) AS BIGINT) AS null_qty
              |FROM lineitem""".stripMargin)),

    // A6: Pearson correlation (reference `X[var].corr(X[target])`,
    // `train_models_simple.py:756`).
    "q08_correlation" -> Q(
      (s, d) => Tables.lineitem(s, d).agg(
        dec6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        dec6(corr(col("l_discount"), col("l_tax"))).as("corr_disc_tax"),
        dec4(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_qty_price")),
      Some(s"""SELECT floor((corr(l_quantity, l_extendedprice)) * 1000000.0 + 0.500618034) / 1000000.0 AS corr_qty_price,
              |floor((corr(l_discount, l_tax)) * 1000000.0 + 0.500618034) / 1000000.0 AS corr_disc_tax,
              |floor((covar_samp(l_quantity, l_extendedprice)) * 10000.0 + 0.500618034) / 10000.0 AS covar_qty_price
              |FROM lineitem""".stripMargin)),

    // P7: binning to ordered categories (reference `pd.cut`,
    // `pre_processing.py:1311-1315`) as a chained when/CASE.
    "q09_binning" -> Q(
      (s, d) => Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "Low")
            .when(col("o_totalprice") < 150000, "Medium")
            .when(col("o_totalprice") < 300000, "High")
            .otherwise("Critical"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dec4(avg("o_totalprice")).as("avg_price"))
        .orderBy("bucket"),
      Some(s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'Low'
              |WHEN o_totalprice < 150000 THEN 'Medium'
              |WHEN o_totalprice < 300000 THEN 'High' ELSE 'Critical' END AS bucket,
              |count(*) AS n, floor((avg(o_totalprice)) * 10000.0 + 0.500618034) / 10000.0 AS avg_price
              |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Set op: union-by-name of filtered subsets (reference `pd.concat`,
    // `data_generator.py:967`).
    "q10_union" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        ev.filter(col("event_type") === "click")
          .unionByName(ev.filter(col("event_type") === "error"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dec4(sum("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, count(*) AS n, floor((sum(value)) * 10000.0 + 0.500618034) / 10000.0 AS sum_value
              |FROM (SELECT * FROM events WHERE event_type = 'click'
              |      UNION ALL SELECT * FROM events WHERE event_type = 'error')
              |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // R1: pivot long->wide with explicit value list (SURVEY §7.4-5: explicit
    // values skip the pivot-discovery pass — one shuffle only).
    "q11_pivot" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dec4(sum("l_quantity")))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |floor((sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END)) * 10000.0 + 0.500618034) / 10000.0 AS qty_f,
              |floor((sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END)) * 10000.0 + 0.500618034) / 10000.0 AS qty_o
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // R3: wide->long unpivot (reference per-zone column iteration,
    // `pre_processing.py:239-241`).
    "q12_unpivot" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
             |FROM lineitem WHERE l_orderkey % 100 = 0
             |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // P8: dictionary encode via CASE (reference zone->sequential id,
    // `pre_processing.py:1540-1560`).
    "q13_dict_encode" -> Q(
      (s, d) => Tables.orders(s, d)
        .withColumn("priority_code",
          when(col("o_orderpriority") === "1-URGENT", 1)
            .when(col("o_orderpriority") === "2-HIGH", 2)
            .when(col("o_orderpriority") === "3-MEDIUM", 3)
            .when(col("o_orderpriority") === "4-NOT SPECIFIED", 4)
            .otherwise(5))
        .groupBy("priority_code", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("priority_code", "o_orderpriority"),
      Some("""SELECT CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
             |WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4 ELSE 5 END AS priority_code,
             |o_orderpriority, count(*) AS n
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY priority_code, o_orderpriority""".stripMargin)),

    // P9: data-level string matching (reference `'Material bridging' in values`,
    // `simple_pre_processing.py:587-589`).
    "q14_string_match" -> Q(
      (s, d) => Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          sum(col("text").contains("spark").cast("int")).as("n_spark"),
          sum(lower(col("text")).like("%table%").cast("int")).as("n_table"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang"),
      Some("""SELECT lang, CAST(sum(CAST(contains(text, 'spark') AS INT)) AS BIGINT) AS n_spark,
             |CAST(sum(CAST(lower(text) LIKE '%table%' AS INT)) AS BIGINT) AS n_table,
             |count(*) AS n_docs
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // JSON-ish extraction from the events props payload (SURVEY §2.10 json).
    "q15_json_extract" -> Q(
      (s, d) => Tables.events(s, d)
        .withColumn("k", regexp_extract(col("props"), "([0-9]+)", 1).cast("int"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), dec4(avg("value")).as("avg_value"))
        .orderBy("k"),
      Some(s"""SELECT CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS k,
              |count(*) AS n, floor((avg(value)) * 10000.0 + 0.500618034) / 10000.0 AS avg_value
              |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // P12: stride downsample (reference every-k-th row, `dashboard.py:1468`).
    // SERVING-ONLY: the exact-stride variant needs a global row_number
    // (single-partition window) — acceptable for dashboard slices of an
    // already-reduced frame, a scale-killer on a raw table. The scale path
    // is q16b below (keyed stride, fully partition-parallel).
    "q16_stride_sample" -> Q(
      (s, d) => {
        val w = Window.orderBy("event_id")
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter((col("rn") - 1) % 100 === 0)
          .select("event_id", "user_id", "event_type", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |QUALIFY (row_number() OVER (ORDER BY event_id) - 1) % 100 = 0
             |ORDER BY event_id""".stripMargin)),

    // P12 at scale: keyed stride on the (dense) surrogate key — a pushable
    // scan predicate, no window, no single-partition sort; every executor
    // strides its own split. This is the 100 TB form of "every k-th row";
    // use it whenever the key is dense or near-dense (deterministic sampling
    // by key, the same contract TABLESAMPLE cannot give).
    "q16b_stride_keyed" -> Q(
      (s, d) => Tables.events(s, d)
        .filter(col("event_id") % 100 === 0)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, event_type, value FROM events
             |WHERE event_id % 100 = 0
             |ORDER BY event_id""".stripMargin)),

    // O5: exact interpolated percentiles (reference `np.percentile`,
    // `models.py:836-838`). At 100 TB use percentile_approx / t-digest.
    "q17_percentiles" -> Q(
      // ONE array-form percentile aggregate: three scalar percentile()
      // calls each buffer the whole group's values independently (3×
      // memory, 3× sort) — the array form shares one buffer, measured
      // 5.2 s → 1.4 s at sf0.1. Values cast to double first: Spark's
      // decimal path keys a boxed value→count map per group, and the
      // oracle's quantile_cont computes in double anyway (dec4 absorbs
      // the shared ulp).
      // spread the single-row-group scan: the percentile partial buffers
      // all 600k values in ONE task otherwise (exact percentile is a pure
      // function of the value multiset — partitioning-independent)
      (s, d) => graft.operators.Spread.ifNarrow(
          Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice"))
        .groupBy("l_returnflag")
        .agg(expr(
          "percentile(CAST(l_extendedprice AS DOUBLE), array(0.5, 0.95, 0.99))")
          .as("ps"))
        .select(col("l_returnflag"),
          dec4(element_at(col("ps"), 1)).as("p50"),
          dec4(element_at(col("ps"), 2)).as("p95"),
          dec4(element_at(col("ps"), 3)).as("p99"))
        .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |floor((quantile_cont(l_extendedprice, 0.5)) * 10000.0 + 0.500618034) / 10000.0 AS p50,
              |floor((quantile_cont(l_extendedprice, 0.95)) * 10000.0 + 0.500618034) / 10000.0 AS p95,
              |floor((quantile_cont(l_extendedprice, 0.99)) * 10000.0 + 0.500618034) / 10000.0 AS p99
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // A9: global time bounds (reference alignment bounds, `pre_processing.py:200-201`).
    "q18_time_bounds" -> Q(
      (s, d) => Tables.events(s, d).agg(
        min("ts").as("min_ts"), max("ts").as("max_ts"),
        datediff(max(col("ts")).cast("date"), min(col("ts")).cast("date")).as("span_days"),
        count(lit(1)).as("n")),
      Some("""SELECT min(ts) AS min_ts, max(ts) AS max_ts,
             |date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS span_days,
             |count(*) AS n FROM events""".stripMargin)),

    // Hierarchy rollup with subtotals: revenue by region > nation plus
    // per-region and grand-total rows in ONE pass (partial aggregation
    // per grouping set, no self-union of separate aggregates);
    // grouping_id disambiguates the subtotal levels, NULL keys formatted
    // as '(all)' so the cross-engine compare sees plain strings.
    "q199_rollup_revenue" -> Q(
      (s, d) => {
        // the DataFrame rollup API resolves grouping names via df.col,
        // whose __dataset_id metadata trips the ambiguous-self-join
        // detector once Expand duplicates the attributes — the SQL surface
        // resolves cleanly and is the idiomatic GROUPING SETS spelling
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name").as("rn"), col("n_name").as("nn"),
            col("o_totalprice"))
          .createOrReplaceTempView("q199_base")
        s.sql(s"""SELECT coalesce(rn, '(all)') AS region,
                 |  coalesce(nn, '(all)') AS nation,
                 |  CAST(grouping(rn) * 2 + grouping(nn) AS INT) AS gid,
                 |  count(*) AS n_orders,
                 |  CAST(${Q.r4("CAST(sum(o_totalprice) AS DOUBLE)")} AS DOUBLE)
                 |    AS revenue
                 |FROM q199_base
                 |GROUP BY ROLLUP (rn, nn)
                 |ORDER BY gid, region, nation""".stripMargin)
      },
      Some(s"""SELECT coalesce(r_name, '(all)') AS region,
              |  coalesce(n_name, '(all)') AS nation,
              |  CAST(grouping(r_name) * 2 + grouping(n_name) AS INT) AS gid,
              |  count(*) AS n_orders,
              |  ${Q.r4("sum(o_totalprice)")} AS revenue
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY ROLLUP (r_name, n_name)
              |ORDER BY gid, region, nation""".stripMargin)),

    // TPC-H Q5-shaped local-supplier volume: revenue per nation where the
    // ordering customer and the line's supplier sit in the SAME nation,
    // one region, one order-year — the five-way join whose shape is the
    // scale story: lineitem (the only big table) joins orders/customer on
    // shuffled keys while supplier/nation/region ride broadcasts, and the
    // same-nation predicate prunes before aggregation.
    "q223_local_volume" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val c = Tables.customer(s, d)
        val su = Tables.supplier(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          // supplier is SF-proportional (1B rows at SF 100k) — no explicit
          // broadcast hint; AQE broadcasts it while it fits and shuffles
          // past that, which a forced hint would not survive
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).as("n_lines"),
            dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("revenue"))
          .orderBy(col("revenue").desc, col("nation"))
      },
      Some(s"""SELECT n_name AS nation, count(*) AS n_lines,
              |  ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |  AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate < TIMESTAMP '1997-01-01'
              |GROUP BY n_name ORDER BY revenue DESC, nation""".stripMargin)),

    // Weighted PageRank over the nation-level trade graph (customer
    // nation → supplier nation, edge weight = extended price): 5
    // power-iteration supersteps (GraphOps.pageRank) — the
    // iterative-graph-algorithm family (importance propagation) on
    // DataFrames. The big join pipeline is touched exactly once, by the
    // job that collects the merged edge list (at most 25² edges), and
    // the supersteps run on the driver (the driver-local regime).
    "q233_trade_pagerank" -> Q(
      (s, d) => {
        val nc = Tables.nation(s, d)
          .select(col("n_nationkey").as("__ck"), col("n_name").as("src_nation"))
        val ns = Tables.nation(s, d)
          .select(col("n_nationkey").as("__sk"), col("n_name").as("dst_nation"))
        val edges = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          // supplier is SF-proportional — leave the broadcast decision to
          // AQE (see q223)
          .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nc), col("c_nationkey") === col("__ck"))
          .join(broadcast(ns), col("s_nationkey") === col("__sk"))
          .select(col("src_nation"), col("dst_nation"), col("l_extendedprice"))
        graft.operators.GraphOps.pageRank(edges, "src_nation", "dst_nation",
            "l_extendedprice", damping = 0.85, iters = 5, scoreOut = dec6)
          .orderBy("node")
      },
      Some(s"""WITH e AS (SELECT cn.n_name AS src, sn.n_name AS dst,
              |  sum(l_extendedprice) AS w
              |  FROM lineitem
              |  JOIN orders ON l_orderkey = o_orderkey
              |  JOIN customer ON o_custkey = c_custkey
              |  JOIN supplier ON l_suppkey = s_suppkey
              |  JOIN nation cn ON c_nationkey = cn.n_nationkey
              |  JOIN nation sn ON s_nationkey = sn.n_nationkey
              |  GROUP BY 1, 2),
              |ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
              |norm AS (SELECT e.src, e.dst, e.w / ow.ow AS p
              |  FROM e JOIN ow ON e.src = ow.src),
              |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              |nn AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM nodes),
              |r0 AS (SELECT node, 1.0 / (SELECT N FROM nn) AS r FROM nodes),
              |d1 AS (SELECT coalesce(sum(r), 0) AS dm FROM r0
              |  WHERE node NOT IN (SELECT DISTINCT src FROM norm)),
              |c1 AS (SELECT dst, sum(r * p) AS cin FROM norm
              |  JOIN r0 ON norm.src = r0.node GROUP BY dst),
              |r1 AS (SELECT n.node, (1.0 - 0.85) / (SELECT N FROM nn)
              |  + 0.85 * (coalesce(c.cin, 0) + (SELECT dm FROM d1) / (SELECT N FROM nn)) AS r
              |  FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
              |d2 AS (SELECT coalesce(sum(r), 0) AS dm FROM r1
              |  WHERE node NOT IN (SELECT DISTINCT src FROM norm)),
              |c2 AS (SELECT dst, sum(r * p) AS cin FROM norm
              |  JOIN r1 ON norm.src = r1.node GROUP BY dst),
              |r2 AS (SELECT n.node, (1.0 - 0.85) / (SELECT N FROM nn)
              |  + 0.85 * (coalesce(c.cin, 0) + (SELECT dm FROM d2) / (SELECT N FROM nn)) AS r
              |  FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
              |d3 AS (SELECT coalesce(sum(r), 0) AS dm FROM r2
              |  WHERE node NOT IN (SELECT DISTINCT src FROM norm)),
              |c3 AS (SELECT dst, sum(r * p) AS cin FROM norm
              |  JOIN r2 ON norm.src = r2.node GROUP BY dst),
              |r3 AS (SELECT n.node, (1.0 - 0.85) / (SELECT N FROM nn)
              |  + 0.85 * (coalesce(c.cin, 0) + (SELECT dm FROM d3) / (SELECT N FROM nn)) AS r
              |  FROM nodes n LEFT JOIN c3 c ON n.node = c.dst),
              |d4 AS (SELECT coalesce(sum(r), 0) AS dm FROM r3
              |  WHERE node NOT IN (SELECT DISTINCT src FROM norm)),
              |c4 AS (SELECT dst, sum(r * p) AS cin FROM norm
              |  JOIN r3 ON norm.src = r3.node GROUP BY dst),
              |r4 AS (SELECT n.node, (1.0 - 0.85) / (SELECT N FROM nn)
              |  + 0.85 * (coalesce(c.cin, 0) + (SELECT dm FROM d4) / (SELECT N FROM nn)) AS r
              |  FROM nodes n LEFT JOIN c4 c ON n.node = c.dst),
              |d5 AS (SELECT coalesce(sum(r), 0) AS dm FROM r4
              |  WHERE node NOT IN (SELECT DISTINCT src FROM norm)),
              |c5 AS (SELECT dst, sum(r * p) AS cin FROM norm
              |  JOIN r4 ON norm.src = r4.node GROUP BY dst),
              |r5 AS (SELECT n.node, (1.0 - 0.85) / (SELECT N FROM nn)
              |  + 0.85 * (coalesce(c.cin, 0) + (SELECT dm FROM d5) / (SELECT N FROM nn)) AS r
              |  FROM nodes n LEFT JOIN c5 c ON n.node = c.dst)
              |SELECT node, ${Q.r6("r")} AS rank FROM r5
              |ORDER BY node""".stripMargin)),

    // Long-form one-scan data profile of lineitem — the describe/Deequ
    // report (one row per column: nulls, distinct, min/max/mean). The
    // oracle is GENERATED from the same column list so both sides can
    // never drift.
    "q194_profile" -> Q(
      (s, d) => graft.operators.ProfileOps.profile(
          Tables.lineitem(s, d), profileCols.map(_._1), exact = true,
          scoreOut = dec6)
        .orderBy("column"),
      Some {
        val perCol = profileCols.map { case (c, kind) =>
          val (mn, mx, av, smn, smx) = kind match {
            case "numeric" => (
              s"""floor((min(CAST($c AS DOUBLE))) * 1000000.0 + 0.500618034) / 1000000.0""",
              s"""floor((max(CAST($c AS DOUBLE))) * 1000000.0 + 0.500618034) / 1000000.0""",
              s"""floor((avg(CAST($c AS DOUBLE))) * 1000000.0 + 0.500618034) / 1000000.0""",
              "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
            case "string" => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              "CAST(NULL AS DOUBLE)", s"min($c)", s"max($c)")
            case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              "CAST(NULL AS DOUBLE)", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
          }
          s"""SELECT '$c' AS "column", '$kind' AS kind, count(*) AS n_rows,
             |  CAST(sum(CAST($c IS NULL AS INT)) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  $mn AS min_num, $mx AS max_num, $av AS mean_num,
             |  $smn AS min_str, $smx AS max_str FROM lineitem""".stripMargin
        }
        perCol.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // TPC-H Q3 shape (shipping priority): the selective filters sit on
    // BOTH fact inputs before the l_orderkey shuffle join; the customer
    // probe keeps only one segment; top-10 by revenue lands on
    // TakeOrderedAndProject (never a global sort). Rounded-revenue +
    // orderkey ordering makes the cut cross-engine deterministic.
    "q255_ship_priority" -> Q(
      (s, d) => {
        val cut = lit("1996-03-15").cast("timestamp")
        val c = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
          .select(col("l_orderkey"), col("revenue"), col("o_orderdate"),
            col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey,
              |  ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")} AS revenue,
              |  o_orderdate, o_orderpriority
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1996-03-15'
              |  AND l_shipdate > TIMESTAMP '1996-03-15'
              |GROUP BY l_orderkey, o_orderdate, o_orderpriority
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q10 shape (returned-item report): one quarter of orders,
    // only 'R' lines, revenue per customer, top-20. Customer joins by
    // shuffle (customer is big at scale); nation broadcasts. The
    // quarter filter prunes orders BEFORE the join.
    "q256_returned_items" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
            col("c_acctbal"), col("n_name").as("nation"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name,
              |  ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")} AS revenue,
              |  c_acctbal, n_name AS nation
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |  AND o_orderdate >= TIMESTAMP '1996-10-01'
              |  AND o_orderdate < TIMESTAMP '1997-01-01'
              |GROUP BY c_custkey, c_name, c_acctbal, n_name
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q18 shape (large-volume customers): the HAVING aggregate
    // collapses lineitem to qualifying orderkeys FIRST (orders-sized,
    // heavily filtered), and only then joins orders + customer — never
    // the other way around. Top-20 rides TakeOrderedAndProject.
    "q257_big_orders" -> Q(
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sum_qty"))
          .filter(col("sum_qty") > 300.0)
        big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_orderdate,
             |  o_totalprice, sum_qty
             |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
             |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300.0)
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),

    // Referential-integrity / key-quality audit (the dbt-tests shape):
    // orphan foreign keys via LEFT ANTI joins (each one shuffle on the
    // key, no row fanout), duplicate and null primary keys via one
    // aggregate per table. One row per named check, so the report is
    // constant-sized no matter the data.
    "q260_integrity_audit" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val checks = Seq(
          li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
            .agg(lit("lineitem_orphan_orderkey").as("check"),
              count(lit(1)).as("n_violations"))
            .crossJoin(broadcast(li.agg(count(lit(1)).as("n_checked")))),
          o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
            .agg(lit("orders_orphan_custkey").as("check"),
              count(lit(1)).as("n_violations"))
            .crossJoin(broadcast(o.agg(count(lit(1)).as("n_checked")))),
          o.agg(lit("orders_duplicate_pk").as("check"),
            (count(lit(1)) - count_distinct(col("o_orderkey")))
              .as("n_violations"), count(lit(1)).as("n_checked")),
          o.agg(lit("orders_null_pk").as("check"),
            count(when(col("o_orderkey").isNull, 1)).as("n_violations"),
            count(lit(1)).as("n_checked")),
          li.agg(lit("lineitem_duplicate_pk").as("check"),
            (count(lit(1)) -
              count_distinct(col("l_orderkey"), col("l_linenumber")))
              .as("n_violations"), count(lit(1)).as("n_checked")))
        checks.reduce(_ unionAll _).orderBy("check")
      },
      Some("""SELECT * FROM (
             |SELECT 'lineitem_orphan_orderkey' AS "check",
             |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
             |    ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
             |    AS n_violations,
             |  (SELECT count(*) FROM lineitem) AS n_checked
             |UNION ALL
             |SELECT 'orders_orphan_custkey',
             |  (SELECT count(*) FROM orders o LEFT JOIN customer c
             |    ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
             |  (SELECT count(*) FROM orders)
             |UNION ALL
             |SELECT 'orders_duplicate_pk',
             |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
             |  (SELECT count(*) FROM orders)
             |UNION ALL
             |SELECT 'orders_null_pk',
             |  (SELECT count(*) FILTER (o_orderkey IS NULL) FROM orders),
             |  (SELECT count(*) FROM orders)
             |UNION ALL
             |SELECT 'lineitem_duplicate_pk',
             |  (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
             |    FROM lineitem),
             |  (SELECT count(*) FROM lineitem)
             |) ORDER BY "check" """.stripMargin)),

    // TPC-H Q7-shaped directional trade matrix: yearly shipped value
    // for every CROSS-BORDER (supplier nation → customer nation) pair —
    // the supp→cust orientation is the business question, so both
    // directions of a pair stay separate rows. Shape: lineitem carries
    // the only big scan; the two-year filter prunes it BEFORE the
    // orderkey shuffle joins; both nation lookups broadcast (constant
    // 25-row dims). Output is panel-bounded: ≤ nations² × years rows.
    "q269_nation_trade_volume" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("__sk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("__ck"), col("n_name").as("cust_nation"))
        li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          // supplier is SF-proportional — AQE decides (q223 discipline)
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("__sk"))
          .join(broadcast(n2), col("c_nationkey") === col("__ck"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(count(lit(1)).as("n_lines"),
            dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("volume"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |  CAST(year(l_shipdate) AS INT) AS l_year,
              |  count(*) AS n_lines,
              |  ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")} AS volume
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE n1.n_name <> n2.n_name
              |  AND l_shipdate >= TIMESTAMP '1996-01-01'
              |  AND l_shipdate < TIMESTAMP '1998-01-01'
              |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // TPC-H Q14-shaped promotion share: the % of one year's shipped
    // revenue on PROMO-type parts, by month. part is SF-proportional so
    // the partkey join carries no forced broadcast; the month rollup is
    // 12 rows. Month crosses the gate as a formatted string (DATE
    // discipline).
    "q270_promo_share" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_lines"),
          dec4(sum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0)))).as("promo_revenue"),
          dec6(lit(100.0) *
            sum(when(col("p_type") === "PROMO",
                col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .otherwise(lit(0.0))) /
            sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("promo_pct"))
        .orderBy("month"),
      Some(s"""SELECT strftime(l_shipdate, '%Y-%m') AS month,
              |  count(*) AS n_lines,
              |  ${Q.r4("sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)")}
              |    AS promo_revenue,
              |  ${Q.r6("100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) / sum(l_extendedprice * (1.0 - l_discount))")}
              |    AS promo_pct
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              |  AND l_shipdate < TIMESTAMP '1998-01-01'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q19-shaped bracket pricing: revenue from three DISJUNCTIVE
    // (brand, size-range, quantity-range) brackets — the OR-of-ANDs
    // predicate family optimizers historically mishandle. The bracket
    // label is computed ONCE (the when-chain mirrors the disjunction)
    // and both the filter and the rollup ride it; part size/brand
    // predicates reach the part scan, quantity predicates the lineitem
    // scan.
    "q271_bracket_revenue" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val bracket =
          when(col("p_brand") === "Brand#1" &&
            col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20), "small_lot")
          .when(col("p_brand") === "Brand#2" &&
            col("p_size").between(16, 30) &&
            col("l_quantity").between(10, 30), "mid_lot")
          .when(col("p_brand") === "Brand#3" &&
            col("p_size").between(31, 50) &&
            col("l_quantity").between(20, 40), "large_lot")
        li.join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .withColumn("bracket", bracket)
          .filter(col("bracket").isNotNull)
          .groupBy("bracket")
          .agg(count(lit(1)).as("n_lines"),
            dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("revenue"))
          .orderBy("bracket")
      },
      Some(s"""SELECT bracket, count(*) AS n_lines,
              |  ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")} AS revenue
              |FROM (SELECT l_extendedprice, l_discount,
              |  CASE
              |    WHEN p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              |      AND l_quantity BETWEEN 1 AND 20 THEN 'small_lot'
              |    WHEN p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
              |      AND l_quantity BETWEEN 10 AND 30 THEN 'mid_lot'
              |    WHEN p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
              |      AND l_quantity BETWEEN 20 AND 40 THEN 'large_lot'
              |  END AS bracket
              |  FROM lineitem JOIN part ON l_partkey = p_partkey)
              |WHERE bracket IS NOT NULL
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q22-shaped dormant high-value customers: above-average
    // balance (positive balances only — the standard guard against the
    // credit-heavy tail dragging the mean) with NO orders in the final
    // year. The average is a scalar aggregate crossjoin; the "no recent
    // orders" test is one LEFT ANTI join against the date-pruned orders
    // scan — never a correlated per-customer probe.
    "q272_dormant_customers" -> Q(
      (s, d) => {
        val c = Tables.customer(s, d)
        val avgBal = c.filter(col("c_acctbal") > 0)
          .agg(avg("c_acctbal").as("__ab"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-08-01").cast("timestamp"))
          .select(col("o_custkey"))
        c.crossJoin(avgBal)
          .filter(col("c_acctbal") > col("__ab"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_customers"),
            dec4(sum(col("c_acctbal"))).as("total_balance"))
          .orderBy("segment")
      },
      Some(s"""SELECT c_mktsegment AS segment, count(*) AS n_customers,
              |  ${Q.r4("sum(c_acctbal)")} AS total_balance
              |FROM customer
              |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
              |                   WHERE c_acctbal > 0)
              |  AND NOT EXISTS (SELECT 1 FROM orders
              |    WHERE o_custkey = c_custkey
              |      AND o_orderdate >= TIMESTAMP '2000-08-01')
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q4-shaped late-order priority count: one quarter's orders
    // that had AT LEAST ONE lineitem ship > 90 days after the order
    // date — the EXISTS becomes a LEFT SEMI join (Spark's native
    // decorrelation target), so each order counts once no matter how
    // many lines were late. The quarter filter prunes orders BEFORE the
    // orderkey shuffle; the date comparison rides the join condition.
    "q281_late_order_priorities" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(li, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_late_orders"))
          .orderBy("priority")
      },
      Some("""SELECT o_orderpriority AS priority, count(*) AS n_late_orders
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
             |  AND o_orderdate < TIMESTAMP '1997-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey
             |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q15-shaped top supplier: one quarter's shipped revenue per
    // supplier, then the supplier(s) hitting the maximum. Revenue is
    // ROUNDED (dec4) before the max and the equality test, so the
    // argmax is deterministic cross-engine; the scalar max is a
    // 1-row crossjoin, never a re-aggregation of lineitem.
    "q282_top_revenue_supplier" -> Q(
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
          .groupBy("l_suppkey")
          .agg(dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("total_revenue"))
        val top = rev.agg(max("total_revenue").as("__max"))
        rev.crossJoin(top)
          .filter(col("total_revenue") === col("__max"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some(s"""WITH r AS (SELECT l_suppkey,
              |    ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")}
              |      AS total_revenue
              |  FROM lineitem
              |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              |    AND l_shipdate < TIMESTAMP '1997-04-01'
              |  GROUP BY 1)
              |SELECT s_suppkey, s_name, total_revenue
              |FROM r JOIN supplier ON l_suppkey = s_suppkey
              |WHERE total_revenue = (SELECT max(total_revenue) FROM r)
              |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q21-shaped sole-late-supplier ranking: finalized orders with
    // 2+ suppliers where exactly ONE supplier shipped late (> 75 days
    // after the order date) — blame lands on that supplier. The textbook
    // EXISTS/NOT-EXISTS pair is re-expressed as aggregation: collapse to
    // distinct (order, supplier, was-late) FIRST (one groupBy — NOT two
    // countDistincts, which would plan an Expand ×3 over the joined
    // stream), then per-order counts decide; the sole late suppkey is
    // max(CASE WHEN late). Supplier blame counts are supplier-sized.
    "q283_sole_late_supplier" -> Q(
      (s, d) => {
        val sl = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
          .agg(max((col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 75 DAYS")).cast("int"))
            .as("late"))
        val po = sl.groupBy("ok")
          .agg(count(lit(1)).as("n_supp"), sum("late").as("n_late"),
            max(when(col("late") === 1, col("sk"))).as("sole"))
          .filter(col("n_supp") >= 2 && col("n_late") === 1)
        po.join(Tables.supplier(s, d), col("sole") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(20)
      },
      Some("""WITH sl AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
             |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY
             |      THEN 1 ELSE 0 END) AS late
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE o_orderstatus = 'F' GROUP BY 1, 2),
             |po AS (SELECT ok, count(*) AS n_supp, sum(late) AS n_late,
             |    max(CASE WHEN late = 1 THEN sk END) AS sole
             |  FROM sl GROUP BY 1)
             |SELECT s_name, count(*) AS numwait
             |FROM po JOIN supplier ON sole = s_suppkey
             |WHERE n_supp >= 2 AND n_late = 1
             |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // TPC-H Q8-shaped market share: NATION_2's suppliers' share of the
    // yearly ECONOMY-part revenue sold to ASIA customers. The two
    // constant dims (nation, region) broadcast; part is SF-proportional
    // so its join is left to AQE; the share is a conditional-sum ratio
    // inside one year-keyed aggregate — never two scans.
    "q293_market_share" -> Q(
      (s, d) => {
        val custNation = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .select(col("c_custkey"))
        val suppNation = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d).select(
              col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("__snk"))
          .select(col("s_suppkey"), col("supp_nation"))
        Tables.lineitem(s, d)
          .join(Tables.part(s, d).filter(col("p_type") === "ECONOMY"),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(custNation, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(suppNation, col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(dec4(sum(when(col("supp_nation") === "NATION_2",
              col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .otherwise(lit(0.0)))).as("nation_revenue"),
            dec4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("total_revenue"),
            dec6(sum(when(col("supp_nation") === "NATION_2",
                col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .otherwise(lit(0.0))) /
              sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
              |  ${Q.r4("""sum(CASE WHEN n2.n_name = 'NATION_2'
              |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)""")}
              |    AS nation_revenue,
              |  ${Q.r4("sum(l_extendedprice * (1.0 - l_discount))")}
              |    AS total_revenue,
              |  ${Q.r6("""sum(CASE WHEN n2.n_name = 'NATION_2'
              |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
              |    / sum(l_extendedprice * (1.0 - l_discount))""")} AS mkt_share
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n2 ON s_nationkey = n2.n_nationkey
              |WHERE o_custkey IN (SELECT c_custkey FROM customer
              |  JOIN nation ON c_nationkey = n_nationkey
              |  JOIN region ON n_regionkey = r_regionkey
              |  WHERE r_name = 'ASIA')
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q9-shaped product-line profit by supplier nation and year
    // ('red' parts): profit proxy = revenue − 0.5·retailprice·qty (the
    // reference schema's supplycost column doesn't ship in this
    // testdata). The selective p_name filter reaches the part scan
    // BEFORE the partkey shuffle; output is nations × years.
    "q294_nation_profit" -> Q(
      (s, d) => {
        val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.5) * col("p_retailprice") * col("l_quantity")
        Tables.lineitem(s, d)
          .join(Tables.part(s, d).filter(col("p_name").like("%red%")),
            col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(count(lit(1)).as("n_lines"), dec4(sum(profit)).as("profit"))
          .orderBy("nation", "o_year")
      },
      Some(s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
              |  count(*) AS n_lines,
              |  ${Q.r4("""sum(l_extendedprice * (1.0 - l_discount)
              |    - 0.5 * p_retailprice * l_quantity)""")} AS profit
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation ON s_nationkey = n_nationkey
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TPC-H Q13-shaped customer order-count distribution: customers LEFT
    // JOIN their non-urgent orders, per-customer count, then the
    // histogram of counts (how many customers placed k orders — k=0 kept
    // by the outer join). The filter rides the join condition, NOT a
    // WHERE (a WHERE would silently turn the outer join inner and drop
    // the zero-order bucket). Two customer-keyed aggregates; the second
    // input is customer-sized, so only the first shuffles real volume.
    "q309_custdist" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey")
        Tables.customer(s, d).select("c_custkey")
          .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT OUTER JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q17-shaped small-quantity revenue: average yearly revenue
    // lost if small-quantity orders (qty < 20% of the part's mean qty)
    // for one brand+type slice went unfilled. The correlated scalar
    // subquery decorrelates to a per-part aggregate joined back — and
    // CRITICALLY the aggregate runs over lineitem ALREADY semi-joined to
    // the filtered part list (a sub-percent brand+type slice), never over
    // the full fact table. The slice is SF-PROPORTIONAL, so it carries no
    // broadcast hint — AQE picks broadcast while it fits and falls back
    // to shuffle join past that (the q293 discipline). One fact-scan,
    // two passes over the slice.
    "q310_small_qty_revenue" -> Q(
      (s, d) => {
        val pk = Tables.part(s, d)
          .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
          .select("p_partkey")
        val slice = Tables.lineitem(s, d)
          .join(pk, col("l_partkey") === col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .persist()
        val avgQ = slice.groupBy("l_partkey")
          .agg((lit(0.2) * avg("l_quantity")).as("__qcap"))
        slice.join(avgQ, Seq("l_partkey"))
          .filter(col("l_quantity") < col("__qcap"))
          .agg(count(lit(1)).as("n_small_lines"),
            dec4(sum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      },
      Some(s"""SELECT count(*) AS n_small_lines,
              |  ${Q.r4("sum(l_extendedprice) / 7.0")} AS avg_yearly
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
              |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
              |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // TPC-H Q18-shaped large-volume customers: orders whose total line
    // quantity exceeds 300, with the buyer. The HAVING aggregate runs on
    // the 2-column (orderkey, qty) projection FIRST, and survivors —
    // dozens, not millions — drive semi-sized joins to orders and
    // customer. Never join-then-aggregate: the wide row would ride the
    // whole shuffle for a predicate only qty decides.
    "q311_large_volume" -> Q(
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("total_qty"))
          .filter(col("total_qty") > 300)
        big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), dec4(col("o_totalprice")).as("totalprice"),
            dec4(col("total_qty")).as("total_qty"))
          .orderBy(col("totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some(s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
              |  ${Q.r4("o_totalprice")} AS totalprice,
              |  ${Q.r4("sum(l_quantity)")} AS total_qty
              |FROM customer JOIN orders ON c_custkey = o_custkey
              |JOIN lineitem ON o_orderkey = l_orderkey
              |GROUP BY 1, 2, 3, 4, o_totalprice
              |HAVING sum(l_quantity) > 300
              |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin))
  )
}
