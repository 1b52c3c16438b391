package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Interval arithmetic behind the self-time and idle-gap figures. */
object Intervals {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionLength(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A node's own time: its length minus the part its children cover. */
  def selfTime(node: (Double, Double), children: Iterable[(Double, Double)]): Double =
    (node._2 - node._1) - unionLength(children, node._1, node._2)
}

/** A timed region of the harness. `layer` is the engine module the region
  * drives (`sources`, `queries`, `plans`, `operators`, `pipeline`) or
  * `harness` for the benchmark's own rounds and passes. Times are
  * milliseconds on the wall clock, so they line up with Spark's job, stage
  * and task timestamps. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Records spans in memory. While tracing, the innermost open span's id is
  * set as a thread-local Spark property, so every job the client thread
  * (or a broadcast it starts) submits carries the span that caused it. */
final class Spans(sc: org.apache.spark.SparkContext) {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6

  val done: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile var tagJobs = false
  /** The id the next span will get. */
  def nextSpanId: Int = nextId

  def apply[T](layer: String, name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    if (tagJobs) sc.setLocalProperty(Spans.Key, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      stack = stack.tail
      if (tagJobs) sc.setLocalProperty(Spans.Key, stack.headOption.map(_.toString).orNull)
      done.synchronized(done += Span(id, parent, layer, name, t0, t1))
    }
  }

  /** `root` and every span below it. */
  def subtree(root: Int): Seq[Span] = {
    val kids = done.groupBy(_.parent)
    def walk(id: Int): Seq[Span] = done.find(_.id == id).toSeq ++
      kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root)
  }
}

object Spans {
  val Key = "perfbench.span"
}

/** Listener-side records of every job, stage and task. */
final class Tracer extends SparkListener {
  import Tracer._
  val jobs: mutable.LinkedHashMap[Int, Job] = mutable.LinkedHashMap.empty
  val stages: mutable.HashMap[Int, Stage] = mutable.HashMap.empty
  /** Time spent in this listener's callbacks: the tracing work itself. */
  @volatile var busyNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .map(_.toInt).getOrElse(-1)
    // the result stage has the highest id; its name is the job's call site
    val name = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, span, name, e.time.toDouble, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId, e.stageInfo.name))
    s.submit = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stages.get(e.stageInfo.stageId).foreach(_.complete =
      e.stageInfo.completionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, ""))
    s.tasks += 1
    s.busyMs += e.taskInfo.duration.toDouble
    s.taskIvs += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
    Option(e.taskMetrics).foreach { m =>
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      s.written += m.outputMetrics.bytesWritten
    }
  }
}

object Tracer {
  /** A job and the span whose thread-local id it carried. */
  final case class Job(id: Int, span: Int, name: String, start: Double,
                       stages: Seq[Int], var end: Double = Double.NaN)
  /** A submitted stage and the totals of its finished tasks. */
  final class Stage(val id: Int, val name: String) {
    var submit = Double.NaN
    var complete = Double.NaN
    var tasks = 0
    var busyMs = 0.0
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var written = 0L
    val taskIvs: mutable.ArrayBuffer[(Double, Double)] = mutable.ArrayBuffer.empty
  }
}

/** Optimizer and planner time of every SQL execution that completes: the
  * planning inside writes and inside actions a query runs while it is
  * being built, which no explicit plan span covers. */
final class PlanListener extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.catalyst.QueryPlanningTracker
  /** (start of optimization, optimizer + planner milliseconds) */
  val phases: mutable.ArrayBuffer[(Double, Double)] = mutable.ArrayBuffer.empty

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val ps = qe.tracker.phases
    val used = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING).flatMap(ps.get)
    if (used.nonEmpty) synchronized {
      phases += ((used.map(_.startTimeMs).min.toDouble, used.map(_.durationMs).sum.toDouble))
    }
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         e: Exception): Unit = ()
}
