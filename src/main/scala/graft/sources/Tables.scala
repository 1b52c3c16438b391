package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

/** Typed loaders for the driver testdata (`TESTDATA.md`).
  *
  * Mirrors the reference's CSV scan layer (`pre_processing.py:79-178`) as
  * plain parquet scans: schemas come from parquet footers, so Catalyst keeps
  * column pruning and predicate pushdown intact (SURVEY §2.1 S1/S6). At
  * cluster scale these would be date-partitioned tables; the API is the same.
  *
  * Like the reference, which loads its tables once per run, each table is
  * resolved once per session: the first read infers the schema from the
  * footers, lists the files and picks the conversions the table's layout
  * needs; later reads reuse that relation and its file index, each under
  * fresh column ids, so a query may read a table twice and join it with
  * itself. This caches metadata only, as Spark's own `SessionCatalog`
  * relation cache does for catalog tables; no rows are cached. A read
  * first lists the table's leaf files (name, length, modification time)
  * and resolves afresh when that listing changed, so a rewritten table is
  * never read through a stale schema. A session's entries go when its
  * `SparkContext` stops; another session resolves its own.
  */
object Tables {
  /** A table as resolved from one listing of its files: the relation over
    * its file index, and the columns every read converts, by name. */
  private final case class Resolved(files: Seq[(String, Long, Long)],
      relation: BaseRelation, convert: Map[String, Column])

  /** Resolved tables by session, then by path. */
  private val catalogs =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]()

  private def catalog(spark: SparkSession): ConcurrentHashMap[String, Resolved] =
    catalogs.computeIfAbsent(spark, s => {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          catalogs.remove(s)
      })
      new ConcurrentHashMap[String, Resolved]()
    })

  /** Path, length and modification time of every file under `path`; empty
    * when there is no such path (the read then raises Spark's error). */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
    try leaves(fs.getFileStatus(p)).map(s =>
      (s.getPath.toString, s.getLen, s.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = listing(spark, path)
    val cat = catalog(spark)
    val r = Option(cat.get(path)).filter(_.files == files).getOrElse {
      val fresh = resolve(spark, path, name, files)
      cat.put(path, fresh)
      fresh
    }
    val df = spark.baseRelationToDataFrame(r.relation)
    if (r.convert.isEmpty) df
    else df.select(df.columns.toSeq.map(c => r.convert.get(c).fold(col(c))(_.as(c))): _*)
  }

  /** Integral id-like columns read as LongType whatever the physical width
    * the generator happened to write (int32 vs int64): the same
    * survive-the-upstream-migration contract as the events `ts` loader,
    * generalized after round 5's layout break. Typed driver-side consumers
    * (`getLong`, `Seq[Long]` filters) must not depend on the parquet
    * footer's integer width; the driver's DuckDB compare already
    * canonicalizes integer widths, so the cast is gate-neutral. */
  private val ids: Map[String, Seq[String]] = Map(
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id", "n_chars"),
    "embeddings" -> Seq("vec_id"))

  /** Reads `path` once: infers its schema and picks its conversions.
    *
    * `events` is schema-adaptive. The upstream generator has shipped `ts`
    * in three physical layouts so far — parquet TIMESTAMP(NANOS)
    * (rejected by Spark's reader without a legacy conf), raw int64 nanos,
    * and native timestamp[us] (read as TIMESTAMP_NTZ) — and an engine
    * aimed at 100 TB must survive such upstream type migrations without a
    * code change. The footer schema picks the branch, and every layout
    * reads as the same `TimestampType` column. Callers MUST run with
    * `spark.sql.session.timeZone=UTC` (`graft.Bench.session` pins it): the
    * NTZ→timestamp cast is then a bit-identical reinterpretation of the
    * stored microseconds, matching DuckDB's naive-timestamp oracle reads.
    * Nanoseconds floor to micros, the truncation DuckDB applies. */
  private def resolve(spark: SparkSession, path: String, name: String,
                      files: Seq[(String, Long, Long)]): Resolved = {
    val df =
      if (name != "events") spark.read.parquet(path)
      else try spark.read.parquet(path)
      catch { case NonFatal(_) => legacyNanos(spark, path) }
    val ts = if (name != "events") None else df.schema("ts").dataType match {
      // timestamp[us], isAdjustedToUTC=false: reinterpret as UTC instant
      case TimestampNTZType => Some(col("ts").cast(TimestampType))
      // raw int64 nanoseconds, plain or TIMESTAMP(NANOS) read as long
      case LongType => Some(timestamp_micros(expr("ts div 1000")))
      case _ => None // already TimestampType (e.g. inferTimestampNTZ=false reads)
    }
    val widened = ids.getOrElse(name, Nil).filter(c =>
      df.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(ByteType | ShortType | IntegerType) => true
        case _ => false
      }).map(c => c -> col(c).cast(LongType))
    val relation = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.get
    Resolved(files, relation, (ts.map("ts" -> _) ++ widened).toMap)
  }

  /** Legacy layout: parquet logical TIMESTAMP(NANOS), whose schema Spark
    * only infers under `spark.sql.legacy.parquet.nanosAsLong`. The conf is
    * read at schema inference only, so it is set for this one read and
    * restored, and later parquet reads in the shared session see
    * timestamps, not raw longs. */
  private def legacyNanos(spark: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try spark.read.parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
