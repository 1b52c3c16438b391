package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A bounded edge list on the driver: a dense index over the node ids,
  * sorted in Spark's order for their type (so the smallest id of a tie is
  * the smallest index), and the edges as index arrays. The driver-local
  * regime of [[GraphOps]] builds one from a collected edge table, runs its
  * supersteps over arrays, and returns the result through [[LocalGraph.frame]].
  *
  * `src(k)`, `dst(k)` are the endpoint indices of edge `k` (row `k` of the
  * collected table); `ids(i)` is node `i`'s original value. */
private[graft] final class LocalGraph private (val ids: Array[Any],
    index: java.util.HashMap[Any, Int], val src: Array[Int], val dst: Array[Int]) {

  def n: Int = ids.length
  def m: Int = src.length

  /** Index of the node with id `id`. */
  def indexOf(id: Any): Int = index.get(id)

  /** CSR adjacency `(offsets, targets, edge)`: node `i`'s neighbors are
    * `targets(j)` for `j` in `offsets(i) until offsets(i + 1)`, reached
    * over edge `edge(j)`. Out-edges only, or both orientations of every
    * edge when `both` (a self-loop then lists its node twice). */
  def csr(both: Boolean): (Array[Int], Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    src.foreach(a => off(a + 1) += 1)
    if (both) dst.foreach(b => off(b + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val to = new Array[Int](off(n))
    val edge = new Array[Int](off(n))
    val fill = off.clone()
    def put(a: Int, b: Int, k: Int): Unit = {
      to(fill(a)) = b; edge(fill(a)) = k; fill(a) += 1
    }
    for (k <- 0 until m) {
      put(src(k), dst(k), k)
      if (both) put(dst(k), src(k), k)
    }
    (off, to, edge)
  }
}

private[graft] object LocalGraph {

  /** Node id types whose values hash, compare and sort on the driver as
    * Spark groups and orders them: the integral types and binary-collated
    * strings. Other id types keep the distributed regimes. */
  def supports(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** The rows of `df` in partition order if it has at most `limit` of
    * them, else None; at most `limit` + #partitions rows ever reach the
    * driver. One job: every task counts its whole partition (filling
    * `df`'s cache when it is persisted) and returns its rows only when
    * they fit its share of the bound, `limit` / #partitions rounded up, so
    * the counts reject an over-bound table after at most about `limit`
    * rows have been shipped. When the total fits but a skewed partition
    * overflowed its share, a second job fetches just those partitions. */
  def collectAtMost(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val rdd = df.rdd
    val sc = df.sparkSession.sparkContext
    val nParts = math.max(rdd.getNumPartitions, 1)
    val share = (limit + nParts - 1) / nParts
    val parts = sc.runJob(rdd, (it: Iterator[Row]) => {
      var kept = scala.collection.mutable.ArrayBuffer.empty[Row]
      var n = 0L
      it.foreach { r =>
        n += 1
        if (n <= share) kept += r else kept = null
      }
      (n, Option(kept).map(_.toArray))
    })
    if (parts.iterator.map(_._1).sum > limit) None
    else {
      val overflow = parts.indices.filter(parts(_)._2.isEmpty)
      val fetched =
        if (overflow.isEmpty) Map.empty[Int, Array[Row]]
        else overflow.zip(sc.runJob(rdd, (it: Iterator[Row]) => it.toArray, overflow)).toMap
      Some(parts.indices.toArray.flatMap(i => parts(i)._2.getOrElse(fetched(i))))
    }
  }

  /** The graph over columns 0 and 1 of `rows` (non-null ids of type `dt`),
    * plus the `extra` ids as nodes whether or not an edge touches them. */
  def apply(rows: Array[Row], dt: DataType, extra: Iterable[Any] = Nil): LocalGraph = {
    val seen = new java.util.HashSet[Any]()
    rows.foreach { r => seen.add(r.get(0)); seen.add(r.get(1)) }
    extra.foreach(seen.add)
    val ids: Array[Any] = dt match {
      case _: StringType =>
        val ord = Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)
        seen.asScala.toArray
          .map(x => (UTF8String.fromString(x.asInstanceOf[String]), x))
          .sortBy(_._1)(ord).map(_._2)
      case _ => seen.asScala.toArray.sortBy(_.asInstanceOf[Number].longValue)
    }
    val index = new java.util.HashMap[Any, Int](ids.length * 2)
    ids.indices.foreach(i => index.put(ids(i), i))
    new LocalGraph(ids, index, rows.map(r => index.get(r.get(0))),
      rows.map(r => index.get(r.get(1))))
  }

  /** `rows` as a DataFrame over a LocalRelation: no job runs until it is
    * drained. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `f` applied to one double on the driver: `f(col("x"))` analyzed over
    * a one-column relation and bound to it, so the value is the one Spark
    * computes. Returns the result type and the function. */
  def scalar(spark: SparkSession, f: Column => Column): (DataType, Double => Any) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    val plan = frame(spark, Nil,
        StructType(Seq(StructField("x", DoubleType, nullable = false))))
      .select(f(col("x"))).queryExecution.analyzed
    val e = plan.expressions.head
    val bound = BindReferences.bindReference(e, plan.children.head.output)
    (e.dataType, x => bound.eval(InternalRow(x)))
  }
}
