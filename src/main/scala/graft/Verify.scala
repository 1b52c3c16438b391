package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (`tools/check.py`), plus
  * failed.tsv — one (query, error) line per query that threw, so a
  * failure is recorded next to the results instead of only on stderr.
  * Runs `Bench.session`, the profile the benchmark times, and honors the
  * same `SPARK_GRAFT_CPUS` and `SPARK_GRAFT_ONLY`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.session(Bench.cpus)
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(kv => Bench.isSelected(kv._1))
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
      Bench.release(spark)
      err.map(name -> _)
    }
    Files.writeString(Paths.get(s"$outDir/failed.tsv"),
      failed.sorted.map { case (n, e) => s"$n\t${e.replaceAll("\\s+", " ")}\n" }
        .mkString("query\terror\n", "", ""))
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
