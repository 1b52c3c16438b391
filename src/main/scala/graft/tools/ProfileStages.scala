package graft.tools

import graft.Bench
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Stage-level profiler for single registry queries — the measure-first
  * loop of the optimization guide (§1) without the Spark UI: runs the
  * named queries in `Bench.session` and prints, per query,
  * the job/stage count and the top stages by duration with task counts
  * and shuffle bytes, so "where is the time going" is answered from the
  * terminal. Usage:
  * `runMain graft.tools.ProfileStages <sfDir> <q1,q2,...> [passes]` */
object ProfileStages {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q337_louvain"))
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Bench.session(Bench.cpus)

    final case class St(name: String, ms: Long, tasks: Int,
                        shRead: Long, shWrite: Long, input: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = s.stageInfo
          val m = i.taskMetrics
          val ms = (for {a <- i.completionTime; b <- i.submissionTime}
            yield a - b).getOrElse(0L)
          stages += St(i.name.takeWhile(_ != '\n').take(90), ms, i.numTasks,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    Bench.warmUp(spark, sfDir)

    names.foreach { name =>
      val fn = graft.queries.Registry.all(name).fn
      for (p <- 1 to passes) {
        stages.clear(); jobs = 0
        val t0 = System.nanoTime()
        Bench.drain(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        Bench.release(spark)
        // listener events arrive async; give the bus a moment
        Thread.sleep(500)
        val sumMs = stages.map(_.ms).sum
        println(f"==== $name pass $p: wall $wall%.2f s, jobs $jobs, " +
          f"stages ${stages.size}, stage-ms sum ${sumMs}")
        if (p == passes) {
          stages.sortBy(-_.ms).take(25).foreach { s =>
            println(f"  ${s.ms}%6d ms  tasks=${s.tasks}%3d " +
              f"shR=${s.shRead / 1024}%8dK shW=${s.shWrite / 1024}%8dK " +
              f"in=${s.input / 1024}%8dK  ${s.name}")
          }
        }
      }
    }
    spark.stop()
  }
}
