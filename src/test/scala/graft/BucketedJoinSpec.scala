package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}

/** The co-location contract: a join between two tables bucketed on the
  * same keys with the same bucket count plans with ZERO shuffle
  * exchanges — the property every "bucket the historical index" scaladoc
  * in the repo relies on at 100 TB, pinned here on real written tables. */
class BucketedJoinSpec extends SparkSpec {

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    planNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])

  test("same-bucket-spec equi-join plans with zero exchanges; unbucketed shuffles") {
    // force the sort-merge path so the exchange elision (not a broadcast)
    // is what's under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val o = Tables.orders(spark, sfTiny)
      val l = Tables.lineitem(spark, sfTiny)
      Bucketing.writeBucketed(o, "bjs_orders", buckets = 8, keys = Seq("o_orderkey"))
      Bucketing.writeBucketed(l, "bjs_lineitem", buckets = 8, keys = Seq("l_orderkey"))
      val ob = spark.table("bjs_orders")
      val lb = spark.table("bjs_lineitem")
      val joined = lb.join(ob, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("q"))
      // the join itself must not shuffle (the final single-partition agg
      // exchange over 5 priority rows is fine — count join-side only)
      val joinOnly = lb.join(ob, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_orderpriority")
      assert(shuffles(joinOnly) == 0,
        s"bucketed join must elide all exchanges:\n${joinOnly.queryExecution.executedPlan}")
      // and it computes the same answer as the unbucketed join
      val unbucketed = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      assert(shuffles(l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "o_orderpriority")) > 0,
        "control: the unbucketed join should shuffle both sides")
      val a = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val b = unbucketed.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(a == b, "bucketed and unbucketed joins must agree")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bjs_orders")
      spark.sql("DROP TABLE IF EXISTS bjs_lineitem")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      Bucketing.writeBucketed(Tables.orders(spark, sfTiny), "bjs_o4",
        buckets = 4, keys = Seq("o_orderkey"))
      Bucketing.writeBucketed(Tables.lineitem(spark, sfTiny), "bjs_l8",
        buckets = 8, keys = Seq("l_orderkey"))
      val j = spark.table("bjs_l8").join(spark.table("bjs_o4"),
        col("l_orderkey") === col("o_orderkey"))
      // one side can reuse its buckets; at least one side must shuffle -
      // correctness is never sacrificed to the layout
      assert(j.count() > 0)
      assert(shuffles(j.select("l_orderkey")) >= 1)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bjs_o4")
      spark.sql("DROP TABLE IF EXISTS bjs_l8")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
