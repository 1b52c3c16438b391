package perfbench

/** Per-operation layer figures, from the spans of one operation and the
  * jobs, stages and tasks the tracer tied to them. */
object Profile {

  /** A node of the trace tree: a span, a job (child of the span that
    * submitted it) or a stage (child of its job). */
  final case class Node(key: String, parent: String, layer: String, start: Double, end: Double)

  /** Self time per layer, in seconds: each node's length minus what its
    * children cover, summed by layer. */
  def selfSeconds(nodes: Seq[Node]): Map[String, Double] = {
    val kids = nodes.groupBy(_.parent)
    nodes.groupBy(_.layer).map { case (layer, ns) =>
      layer -> ns.map { n =>
        Intervals.selfTime((n.start, n.end), kids.getOrElse(n.key, Nil).map(c => (c.start, c.end)))
      }.sum / 1000.0
    }
  }

  /** Steps that build DataFrames without running them: a registry
    * query's construction, and the kiln loaders and pipeline stages. */
  val constructSteps = Set("construct", "csv_load", "align", "process")

  /** A job named after a reader method (`parquet at Tables.scala:17`)
    * inside a construction step infers a file schema; a write is named
    * after its writer method too, but runs in a write step. */
  def isSchemaJob(jobName: String, spanName: String): Boolean =
    constructSteps(spanName) &&
      Seq("parquet at ", "json at ", "orc at ", "load at ", "csv at ").exists(jobName.startsWith)

  def opMetrics(spans: Spans, tr: Tracer, plans: PlanListener, op: Int,
                cores: Int): Map[String, Double] = tr.synchronized {
    val sub = spans.subtree(op)
    val byId = sub.map(s => s.id -> s).toMap
    // only what the timed steps caused, not the untimed checks between them
    val jobs = tr.jobs.values.filter(j => byId.contains(j.span) && j.span != op).toSeq
    def isSchema(j: Tracer.Job) = isSchemaJob(j.name, byId(j.span).name)
    val schema = jobs.filter(isSchema)
    val construct = jobs.filter(j => constructSteps(byId(j.span).name) && !isSchema(j))
    val steps = sub.filter(_.parent == op)
    val planMs = plans.synchronized(plans.phases.collect {
      case (t, ms) if steps.exists(s => t >= s.start && t <= s.end) => ms }.sum)
    val stageOf = jobs.flatMap(j => j.stages.flatMap(tr.stages.get)
      .filterNot(_.submit.isNaN).map(s => s -> j)).groupBy(_._1.id).values.map(_.head).toSeq
    val stages = stageOf.map(_._1)
    val tasks = stages.flatMap(_.taskIvs)
    val busy = stages.map(_.busyMs).sum / 1000.0
    val timed = steps.map(_.seconds).sum
    val idle = steps.map(s => s.end - s.start - Intervals.unionLength(tasks, s.start, s.end)).sum / 1000.0
    val nodes =
      sub.filter(_.id != op).map(s => Node(s"s${s.id}",
        if (s.parent == op) "" else s"s${s.parent}", s.layer, s.start, s.end)) ++
      jobs.map(j => Node(s"j${j.id}", s"s${j.span}",
        if (isSchema(j)) "sources" else "operators", j.start,
        if (j.end.isNaN) j.start else j.end)) ++
      stageOf.map { case (s, j) => Node(s"t${s.id}", s"j${j.id}", "operators", s.submit,
        if (s.complete.isNaN) s.submit else s.complete) }
    val self = selfSeconds(nodes)
    Map(
      "queries.construct_s" -> sub.filter(s => constructSteps(s.name)).map(_.seconds).sum,
      "queries.construct_jobs" -> construct.size.toDouble,
      "plans.plan_s" -> (sub.filter(_.layer == "plans").map(_.seconds).sum + planMs / 1000.0),
      "sources.schema_jobs" -> schema.size.toDouble,
      "sources.write_s" -> sub.filter(_.name.startsWith("write_")).map(_.seconds).sum,
      "sources.write_bytes" -> stages.map(_.written).sum.toDouble,
      "operators.jobs" -> jobs.size.toDouble,
      "operators.stages" -> stages.size.toDouble,
      "operators.tasks" -> stages.map(_.tasks).sum.toDouble,
      "operators.task_busy_s" -> busy,
      "operators.busy_share" -> (if (timed > 0) busy / (cores * timed) else 0.0),
      "operators.idle_gap_s" -> idle,
      "operators.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "operators.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "operators.peak_exec_mem_bytes" -> (0L +: stages.map(_.peakMem)).max.toDouble) ++
      Seq("harness", "sources", "queries", "plans", "operators", "pipeline")
        .map(l => s"$l.self_s" -> self.getOrElse(l, 0.0))
  }
}
