package graft

import java.io.{FileWriter, PrintWriter}

import graft.operators.GraphOps
import graft.queries.Q.dec6
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Above-bound probe of the distributed graph bodies. Not compiled with
  * the project: copy it into `src/test/scala/graft/` of a checkout and
  * run it with `run_probe.sh` (see README.md in this folder).
  *
  * Graph: `spark.range(5e6)` with a = pmod(xxhash64(id), 400000),
  * b = pmod(xxhash64(id + 977), 400000), w = id % 7 + 1, written once as 8
  * parquet files under `<dataDir>`: about 5M merged and canonical edges
  * (above `GraphOps.LocalEdgeLimit`) over at most 400k nodes (below
  * `GraphOps.NodeLimit`). Each named operator's `*Distributed` body is
  * called directly on that table, timed from building the result through
  * `Bench.drain`; an order-independent content hash of the dec6 result is
  * taken afterwards from the same (checkpointed) result, and
  * `Bench.release` runs between operators. One JSON line per operator is
  * appended to `<out.jsonl>`.
  *
  * Usage: RegimeProbe <dataDir> <side> <out.jsonl> <op,op,...>
  *   ops: pagerank, hits, lpa, louvain1, louvainML, kcore */
object RegimeProbe {
  val Rows = 5000000L
  val Nodes = 400000L

  def main(args: Array[String]): Unit = {
    val Array(dataDir, side, out, opList) = args
    val spark = Bench.session(4)
    if (!new java.io.File(dataDir, "_SUCCESS").exists())
      spark.range(0, Rows, 1, 8)
        .select(pmod(xxhash64(col("id")), lit(Nodes)).as("a"),
          pmod(xxhash64(col("id") + 977), lit(Nodes)).as("b"),
          (col("id") % 7 + 1).cast("double").as("w"))
        .write.mode("overwrite").parquet(dataDir)
    val edges = spark.read.parquet(dataDir)
    def merged(e: DataFrame) = GraphOps.mergedEdges(e, "a", "b", "w")
    def canon(e: DataFrame) = GraphOps.canonEdges(e, "a", "b")
    def body(op: String, e: DataFrame): DataFrame = op match {
      case "pagerank" => GraphOps.pageRankDistributed(merged(e), 0.85, 5, dec6, 0)
      case "hits" => GraphOps.hitsDistributed(merged(e), 4, dec6, 0)
      case "lpa" => GraphOps.labelPropagationDistributed(canon(e), 4, 0)
      case "louvain1" => GraphOps.louvainOneLevelDistributed(canon(e), 4, 10, dec6, 0)
      case "louvainML" => GraphOps.louvainMultiLevelDistributed(canon(e), 4, 10, dec6, 0)
      case "kcore" => GraphOps.kCoreDistributed(canon(e), 10, 50, 0)
    }
    def hashOf(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).first()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    // warm-up on a 20k-edge slice: codegen, shuffle and broadcast paths
    // of every named body, so the first timed operator is not the JVM's
    // first query
    val ops = opList.split(",").toSeq
    val slice = edges.limit(20000)
    ops.foreach { op => Bench.drain(body(op, slice)); Bench.release(spark) }
    val nodeLimit = sys.props.getOrElse("graft.nodeLimit", "default")
    val pw = new PrintWriter(new FileWriter(out, true))
    try ops.foreach { op =>
      val t0 = System.nanoTime()
      val res = body(op, edges)
      Bench.drain(res)
      val s = (System.nanoTime() - t0) / 1e9
      val (rows, hash) = hashOf(res)
      Bench.release(spark)
      val line = f"""{"side": "$side", "op": "$op", "node_limit": "$nodeLimit", "s": $s%.3f, "rows": $rows, "hash": "$hash"}"""
      println(line)
      pw.println(line); pw.flush()
    } finally pw.close()
    spark.stop()
  }
}
