package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.perfbench.Internals

/** Order-independent content hash of a query result, computed on the
  * executors while the final plan is drained (one job, like
  * `graft.Bench`'s drain, with no transfer of rows to the driver).
  *
  * Each row is rendered canonically and hashed to 64 bits; the result is
  * the row count and the sum of the row hashes, so it does not depend on
  * partitioning or row order. Doubles are rounded to 10 significant digits
  * and floats to 6 before hashing, which absorbs last-ulp differences in
  * summation order but not a wrong value. */
object ContentHash {

  final case class Result(rows: Long, hash: String)

  private def roundSig(d: Double, digits: Int): Double =
    if (d == 0.0 || d.isNaN || d.isInfinite) d
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      val s = digits - 1 - e
      val r =
        if (s >= 0) math.rint(d * math.pow(10, s)) / math.pow(10, s)
        else math.rint(d / math.pow(10, -s)) * math.pow(10, -s)
      if (r == 0.0) 0.0 else r // no negative zero
    }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('∅')
    case d: Double => sb.append(roundSig(d, 10))
    case f: Float => sb.append(roundSig(f.toDouble, 6))
    case b: java.math.BigDecimal => sb.append(b.stripTrailingZeros.toPlainString)
    case b: BigDecimal => sb.append(b.bigDecimal.stripTrailingZeros.toPlainString)
    case a: Array[Byte] => sb.append(java.util.Arrays.toString(a))
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) { if (i > 0) sb.append(','); render(r.get(i), sb); i += 1 }
      sb.append(')')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val s = new java.lang.StringBuilder; render(k, s); s.append("->"); render(x, s); s.toString
      }.sorted
      sb.append(parts.mkString("{", ",", "}"))
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; render(x, sb) }
      sb.append(']')
    case other => sb.append(other.toString)
  }

  def rowHash(r: Row): Long = {
    val sb = new java.lang.StringBuilder
    render(r, sb)
    val s = sb.toString
    (MurmurHash3.stringHash(s, 0x1b873593).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** Executes `df` to the end and returns its row count and content hash. */
  def drain(df: DataFrame): Result = {
    val schema = df.schema
    val conv = Internals.rowConverter(schema)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += rowHash(conv(it.next())); n += 1 }
      Iterator.single((n, h))
    }.collect()
    val n = parts.map(_._1).sum
    val h = parts.map(_._2).sum
    val names = schema.fields.map(f => f.name + ":" + f.dataType.simpleString).mkString(",")
    Result(n, f"${MurmurHash3.stringHash(names)}%08x-$n%d-$h%016x")
  }
}
