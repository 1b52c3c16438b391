package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
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
    index: Any => Int, val src: Array[Int], val dst: Array[Int]) {

  def n: Int = ids.length
  def m: Int = src.length

  /** Index of the node with id `id`. */
  def indexOf(id: Any): Int = index(id)

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
    * driver. One job over `df`'s plan, which nothing persists: every task
    * counts its whole partition and returns its rows only when they fit
    * its share of the bound, `limit` / #partitions rounded up, so the
    * counts reject an over-bound table after at most about `limit` rows
    * have been shipped. Tasks ship the plan's UnsafeRows as they are;
    * the driver converts them to Rows. When the total fits but a skewed
    * partition overflowed its share, a second job recomputes just those
    * partitions: the plans that reach the gate are deterministic, so a
    * recomputed partition holds the rows the count saw. */
  def collectAtMost(df: DataFrame, limit: Long): Option[Array[Row]] = {
    val rdd = df.queryExecution.toRdd
    val sc = df.sparkSession.sparkContext
    val nParts = math.max(rdd.getNumPartitions, 1)
    val share = (limit + nParts - 1) / nParts
    val parts = sc.runJob(rdd, (it: Iterator[InternalRow]) => {
      var kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var n = 0L
      it.foreach { r =>
        n += 1
        if (n <= share) kept += r.copy() else kept = null
      }
      (n, Option(kept).map(_.toArray))
    })
    if (parts.iterator.map(_._1).sum > limit) None
    else {
      val overflow = parts.indices.filter(parts(_)._2.isEmpty)
      val fetched =
        if (overflow.isEmpty) Map.empty[Int, Array[InternalRow]]
        else overflow.zip(sc.runJob(rdd,
          (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, overflow)).toMap
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(parts.indices.toArray.flatMap(i => parts(i)._2.getOrElse(fetched(i)))
        .map(toRow(_).asInstanceOf[Row]))
    }
  }

  /** The graph over columns 0 and 1 of `rows` (non-null ids of type `dt`),
    * plus the `extra` ids as nodes whether or not an edge touches them.
    * Integral ids are indexed by binary search in their sorted distinct
    * values, string ids by a hash map in their UTF8String order. */
  def apply(rows: Array[Row], dt: DataType, extra: Iterable[Any] = Nil): LocalGraph =
    dt match {
      case _: StringType =>
        val seen = new java.util.HashSet[Any]()
        rows.foreach { r => seen.add(r.get(0)); seen.add(r.get(1)) }
        extra.foreach(seen.add)
        val ord = Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)
        val ids: Array[Any] = seen.asScala.toArray
          .map(x => (UTF8String.fromString(x.asInstanceOf[String]), x))
          .sortBy(_._1)(ord).map(_._2)
        val index = new java.util.HashMap[Any, Int](ids.length * 2)
        ids.indices.foreach(i => index.put(ids(i), i))
        new LocalGraph(ids, index.get(_), rows.map(r => index.get(r.get(0))),
          rows.map(r => index.get(r.get(1))))
      case _ =>
        def key(id: Any): Long = id.asInstanceOf[Number].longValue
        val m = rows.length
        // src endpoints in [0, m), dst endpoints in [m, 2m)
        val ends = new Array[Long](2 * m)
        for (k <- 0 until m) {
          ends(k) = key(rows(k).get(0)); ends(m + k) = key(rows(k).get(1))
        }
        val sorted = ends ++ extra.map(key)
        java.util.Arrays.sort(sorted)
        var n = 0
        for (v <- sorted) if (n == 0 || v != sorted(n - 1)) { sorted(n) = v; n += 1 }
        val keys = java.util.Arrays.copyOf(sorted, n)
        val box: Long => Any = dt match {
          case ByteType => v => v.toByte
          case ShortType => v => v.toShort
          case IntegerType => v => v.toInt
          case _ => v => v
        }
        def indexOf(v: Long): Int = java.util.Arrays.binarySearch(keys, v)
        new LocalGraph(keys.map(box), id => indexOf(key(id)),
          Array.tabulate(m)(k => indexOf(ends(k))),
          Array.tabulate(m)(k => indexOf(ends(m + k))))
    }

  /** `rows` as a DataFrame over a LocalRelation: no job runs until it is
    * drained. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** `f` applied to one double on the driver: `f(col("x"))` analyzed over
    * a one-column relation and bound to it, so the value is the one Spark
    * computes. Returns the result type and the function. */
  def scalar(spark: SparkSession, f: Column => Column): (DataType, Double => Any) = {
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    val plan = frame(spark, Nil,
        StructType(Seq(StructField("x", DoubleType, nullable = false))))
      .select(f(col("x"))).queryExecution.analyzed
    val e = plan.expressions.head
    val bound = BindReferences.bindReference(e, plan.children.head.output)
    (e.dataType, x => bound.eval(InternalRow(x)))
  }
}
