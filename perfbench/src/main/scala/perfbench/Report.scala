package perfbench

import perfbench.Main.Pass

/** Per-layer metrics and the span export of a traced run. */
object Report {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer figures of one pass span. */
  private def passLayers(t: Tracer, pass: Span, wall: Double, cores: Int): Map[String, Double] = {
    val queries = t.children(pass.id).filter(_.layer == "query")
    def phase(layer: String) = queries.flatMap(q => t.children(q.id).filter(_.layer == layer))
    def jobsUnder(spans: Seq[Span]) = spans.flatMap(s => t.children(s.id).filter(_.layer == "job"))
    val construct = phase("construct"); val plan = phase("plan"); val exec = phase("exec")
    val stages = t.descendants(pass.id, "stage")
    def stageSum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val named = (construct ++ plan ++ exec).map(_.seconds).sum
    Map(
      "SparkEntry.construct_s" -> construct.map(_.seconds).sum,
      "SparkEntry.construct_jobs" -> jobsUnder(construct).size.toDouble,
      "spark.plan_s" -> plan.map(_.seconds).sum,
      "spark.plan.optimizer_s" -> plan.map(_.attrs.getOrElse("optimizer_s", 0.0)).sum,
      "spark.exec_s" -> exec.map(_.seconds).sum,
      "spark.exec_jobs" -> jobsUnder(exec).size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.single_task_stages" -> stages.count(_.attrs.getOrElse("tasks", 0.0) == 1.0).toDouble,
      "spark.tasks" -> stageSum("tasks"),
      "spark.task_s" -> stageSum("task_s"),
      "spark.task_cpu_s" -> stageSum("task_cpu_s"),
      "spark.core_busy_frac" -> stageSum("busy_s") / (wall * cores),
      "spark.task_wait_s" -> stageSum("wait_s"),
      "spark.shuffle_write_mb" -> stageSum("shuffle_write_mb"),
      "spark.spill_mb" -> stageSum("spill_mb"),
      "spark.failed_tasks" -> stageSum("failed_tasks"),
      "trace.named_frac" -> named / wall)
  }

  /** Medians over the traced passes, and the tracing overhead. */
  def layers(t: Tracer, passes: Seq[Pass], cores: Int): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val perPass = traced.map(p => passLayers(t, p.span.get, p.wall, cores) +
      ("jvm.gc_s" -> p.gc) + ("jvm.cpu_s" -> p.cpu) + ("jvm.jit_s" -> p.jit) +
      ("spark.codegen_compiles" -> p.codegen.toDouble))
    val layered = perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
    layered + ("jvm.heap_peak_mb" -> traced.map(_.heapMb).max) + ("trace.overhead_s" ->
      (median(traced.map(_.wall)) - median(passes.filterNot(_.traced).map(_.wall))))
  }

  /** Median time and job count of every query over the given traced
    * passes, with the number of calls they hold. */
  def queries(t: Tracer, passes: Seq[Pass]): Map[String, Map[String, Double]] = {
    val passIds = passes.flatMap(_.span).map(_.id).toSet
    t.all.filter(s => s.layer == "query" && passIds(s.parent)).groupBy(_.name).map {
      case (name, qs) => name -> Map(
        "calls" -> qs.size.toDouble,
        "s" -> median(qs.map(_.seconds)),
        "jobs" -> median(qs.map(q => t.descendants(q.id, "job").size.toDouble)))
    }
  }

  /** Every span, and the self time of each layer summed over the run. */
  def spansJson(t: Tracer): String = {
    val spans = t.all
    val self = spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(t.selfNs).sum / 1e9
    }
    Json.obj(
      "self_s" -> self,
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "attrs" -> s.attrs))).text
  }
}
