package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Loader contract: `Tables.events` must load every `ts` physical layout the
  * upstream generator has ever shipped to the SAME normalized rows. Round 5
  * lost 42 gate queries to a silent testdata migration (int64-nanos →
  * timestamp[us]); this spec pins all three layouts as in-repo fixtures so
  * the next migration is caught by the suite, not the driver gate.
  *
  * Layouts covered (one fixture each, identical logical content):
  *   A. native timestamp[us], isAdjustedToUTC=false — today's generator
  *      output; Spark reads TIMESTAMP_NTZ.
  *   B. raw INT64 nanoseconds in a plain long column.
  *   C. parquet logical TIMESTAMP(NANOS) — the pre-round-6 layout, which
  *      Spark's reader rejects at schema inference without
  *      `spark.sql.legacy.parquet.nanosAsLong`; written here with the
  *      low-level parquet-hadoop writer since Spark cannot produce it.
  *
  * The NTZ→timestamp normalization is only bit-identical under a UTC
  * session, so the spec also asserts the shared session's timezone — a
  * non-UTC box would shift every events timestamp against the DuckDB
  * oracle (ADVICE r5).
  *
  * `Tables` resolves each table once per session, so the spec also pins
  * that cache: a table rewritten mid-session in another layout reads as
  * its new rows, a second read schedules no job, and a new session
  * resolves afresh. */
class EventsLoaderContractSpec extends SparkSpec {

  // canonical content: micros timestamps, plus sub-microsecond residue in
  // the nanos layouts to prove floor-truncation (DuckDB semantics)
  private val rows = Seq(
    (1L, 1700000000123456L, 101L, "view", 1.5, "{}"),
    (2L, 1700000003987654L, 102L, "click", 2.5, "{\"k\":1}"),
    (3L, 1700086400000001L, 101L, "view", -0.5, "{}")
  )
  private val nanoResidue = 789L // added per-row in nanos layouts; must truncate away

  private def writeLayoutA(dir: String): Unit = {
    val df = spark.createDataFrame(rows).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType))
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeLayoutB(dir: String): Unit = {
    val df = spark.createDataFrame(
      rows.map { case (id, us, u, t, v, p) => (id, us * 1000L + nanoResidue, u, t, v, p) })
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeLayoutC(dir: String,
                           rows: Seq[(Long, Long, Long, String, Double, String)] = rows): Unit = {
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(conf).build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, us, u, t, v, p) =>
      val g = factory.newGroup()
      g.add("event_id", id)
      g.add("ts", us * 1000L + nanoResidue)
      g.add("user_id", u)
      g.add("event_type", t)
      g.add("value", v)
      g.add("props", p)
      writer.write(g)
    } finally writer.close()
  }

  private def load(dir: String): Seq[Row] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"loader must normalize ts to TimestampType, got ${df.schema("ts").dataType}")
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id").collect().toSeq
  }

  test("session timezone is UTC (required for NTZ normalization and oracle agreement)") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("all three ts layouts load to identical normalized rows") {
    val base = Files.createTempDirectory("events-layouts").toFile
    base.deleteOnExit()
    val (a, b, c) = (s"$base/a", s"$base/b", s"$base/c")
    writeLayoutA(a); writeLayoutB(b); writeLayoutC(c)

    val la = load(a)
    val lb = load(b)
    val lc = load(c)
    assert(la === lb, "timestamp[us] and raw-int64-nanos layouts must load identically")
    assert(la === lc, "timestamp[us] and TIMESTAMP(NANOS) layouts must load identically")

    // micros fidelity: UTC instant equals the written micros exactly
    // (sub-microsecond residue floor-truncated, DuckDB semantics)
    val got = la.map(r => r.getTimestamp(1).toInstant)
    val want = rows.map { case (_, us, _, _, _, _) =>
      java.time.Instant.EPOCH.plusNanos(us * 1000L) }
    assert(got === want)
  }

  test("legacy nanos read does not leak nanosAsLong into the shared session") {
    val base = Files.createTempDirectory("events-conf").toFile
    base.deleteOnExit()
    writeLayoutC(s"$base/c")
    load(s"$base/c")
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ == "false"))
  }

  test("rewriting events.parquet mid-session from layout A to C re-resolves the table") {
    val base = Files.createTempDirectory("events-rewrite").toFile
    base.deleteOnExit()
    val dir = base.getPath
    writeLayoutA(dir)
    assert(load(dir).map(_.getLong(0)) === Seq(1L, 2L, 3L))
    // a different layout AND different content, at the same path
    val later = rows.map { case (id, us, u, t, v, p) => (id + 10, us + 5L, u, t, v * 2, p) }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/events.parquet"))
    writeLayoutC(dir, later)
    val got = load(dir)
    assert(got.map(_.getLong(0)) === Seq(11L, 12L, 13L))
    assert(got.map(_.getTimestamp(1).toInstant) === later.map { case (_, us, _, _, _, _) =>
      java.time.Instant.EPOCH.plusNanos(us * 1000L) })
    assert(got.map(_.getDouble(4)) === later.map(_._5))
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ == "false"))
  }

  test("a table resolves once per session: a second read schedules no job") {
    Tables.orders(spark, sfTiny)
    assert(jobsIn("tables-second-read")(Tables.orders(spark, sfTiny)) == 0)
    // each read has its own column ids, so a table joins with itself
    val (a, b) = (Tables.nation(spark, sfTiny), Tables.nation(spark, sfTiny))
    assert(a.join(b, a("n_nationkey") === b("n_regionkey")).count() ==
      a.count())
  }

  test("a new session resolves its tables afresh") {
    Tables.orders(spark, sfTiny)
    val other = spark.newSession()
    // schema inference is a job; the first session's relation is not reused
    assert(jobsIn("tables-new-session")(Tables.orders(other, sfTiny)) > 0)
    assert(jobsIn("tables-new-session-again")(Tables.orders(other, sfTiny)) == 0)
  }
}
