package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** The two Spark internals the harness needs, in Spark's package scope. */
object Internals {
  /** Blocks until every listener event posted so far has been delivered,
    * so counters read after an operation include all of its jobs. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Executor-side converter from the final plan's rows to `Row`s. */
  def rowConverter(schema: StructType): InternalRow => Row = {
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    (r: InternalRow) => conv(r).asInstanceOf[Row]
  }
}
