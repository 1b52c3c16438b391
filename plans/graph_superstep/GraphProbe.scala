package graft

import graft.queries.Registry

/** Plan/job probe of the iterative graph family (kept beside its output,
  * not compiled with the engine). Copy it to src/test/scala/graft/ and
  * run
  *
  *   PROBE_OUT=<dir> PROBE_SF=<sf dir>[,<sf dir>...] \
  *     sbt "testOnly graft.GraphProbe"
  *
  * For each sf dir and query it builds and collects the query twice in
  * the SparkSpec session and writes `jobs.tsv` (jobs scheduled by each
  * build + collect, row count, an md5 of the sorted rows per build) and
  * the second build's executed plan, normalized: expression ids, plan
  * ids and the sf dir are masked so two checkouts can be diffed. */
class GraphProbe extends SparkSpec {
  private val names = Seq("q233_trade_pagerank", "q287_bfs_reach", "q306_hits",
    "q323_kcore", "q327_textrank", "q330_label_propagation", "q337_louvain",
    "q347_louvain_multilevel")

  private def norm(p: String, sf: String): String = p
    .replace(sf, "<sf>")
    .replaceAll("#\\d+L?", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("id=\\d+", "id=")

  test("graph probe") {
    val out = sys.env("PROBE_OUT")
    val sfs = sys.env("PROBE_SF").split(",")
    new java.io.File(out).mkdirs()
    val tsv = new StringBuilder
    for (sf <- sfs; name <- names) {
      val tag = new java.io.File(sf).getName
      val runs = (1 to 2).map { b =>
        var df: org.apache.spark.sql.DataFrame = null
        var rows: Array[org.apache.spark.sql.Row] = null
        val j = jobsIn(s"$name-$tag-$b") {
          df = Registry.all(name).fn(spark, sf)
          rows = df.collect()
        }
        val fp = java.security.MessageDigest.getInstance("MD5")
          .digest(rows.map(_.toSeq.mkString("|")).sorted.mkString("\n")
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
        if (b == 2) java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/${name}_$tag.plan.txt"),
          norm(df.queryExecution.executedPlan.toString, sf))
        spark.catalog.clearCache()
        (j, fp, rows.length)
      }
      tsv ++= Seq(name, tag, runs(0)._1, runs(1)._1, runs(1)._3, runs(0)._2,
        runs(1)._2).mkString("", "\t", "\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/jobs.tsv"),
      "query\tsf\tjobs_build1\tjobs_build2\trows\tfp1\tfp2\n" + tsv)
  }
}
