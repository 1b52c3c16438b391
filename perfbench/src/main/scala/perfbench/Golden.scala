package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.SparkEntry

/** Records the benchmark's golden outputs.
  *
  * {{{
  * perfbench.Golden --cores C --bench perfbench --python python3
  *                  --work DIR --out golden.tsv
  * }}}
  *
  * Generates the registry tables, runs each graph query twice (the two
  * content hashes must agree), and runs the kiln pipeline once for the
  * golden seed. For the DuckDB cross-check it leaves, under `DIR`, the
  * tables (`tables/<table>.parquet`), each query's output
  * (`verify/<query>/`) and the queries' oracle SQL
  * (`verify/oracle_sql.json`), the layout `tools/check.py` reads:
  * {{{
  * python3 tools/check.py DIR/tables DIR/verify --subset
  * }}}
  * Queries with oracle SQL are written as `pending` until that check
  * confirms them. */
object Golden {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = new File(a("work")).getAbsoluteFile
    val spark = Session.start(a("cores").toInt, work.getPath)
    val spans = new Spans(spark.sparkContext)
    val tables = new File(work, "tables")
    TableGen(a("python"), new File(a("bench"), "gen_tables.py")).write(tables)
    val verify = new File(work, "verify")
    val oracle = SparkEntry.oracleSql
    val rows = GraphIterative.queries.map { q =>
      val h1 = GraphIterative.run(spark, tables, q, spans).hash
      Session.release(spark)
      val h2 = GraphIterative.run(spark, tables, q, spans).hash
      Session.release(spark)
      require(h1 == h2, s"$q: content hash does not repeat ($h1, $h2)")
      graft.queries.Registry.all(q).fn(spark, tables.getPath).coalesce(1)
        .write.mode("overwrite").parquet(s"$verify/$q")
      Session.release(spark)
      Seq(q, h1, if (oracle.contains(q)) "pending" else "none")
    }
    Files.writeString(new File(verify, "oracle_sql.json").toPath,
      oracle.filter(kv => GraphIterative.queries.contains(kv._1))
        .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))

    val inputs = new File(work, "kiln")
    KilnGen.writeAll(inputs, Refs.kilnGoldenSeed)
    val kiln = new KilnReference(Refs(Map.empty))
    val last = kiln.op(Ctx(spark, inputs, work, spans, Refs.kilnGoldenSeed), 0).last
    require(last.ok, s"kiln pipeline failed its check: ${last.detail}")
    val kilnRow = Seq(Refs.kilnKey, last.detail, s"seed ${Refs.kilnGoldenSeed}")

    Files.writeString(new File(a("out")).toPath,
      ("# name\thash\tconfirmed_by" +: (rows :+ kilnRow).map(_.mkString("\t")))
        .mkString("", "\n", "\n"), StandardCharsets.UTF_8)
    Session.stop(spark)
  }
}
