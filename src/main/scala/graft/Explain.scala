package graft

/** Plan-audit diagnostic: print the formatted physical plan of the named
  * registry queries (all of them with no args) so broadcast choices,
  * pushed filters, and WholeStageCodegen spans can be reviewed without
  * executing anything. Plans under `Bench.session`, so they are the plans
  * the benchmark runs. Usage:
  * `runMain graft.Explain <sfDir> [query,query,...]` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.lift(1).map(_.split(",").toSeq)
    val spark = Bench.session(Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val selected = names.fold(queries.Registry.all.keys.toSeq)(identity)
    selected.foreach { name =>
      println(s"==== $name ====")
      try println(queries.Registry.all(name).fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
