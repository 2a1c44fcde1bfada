package perfbench

import org.apache.spark.Success
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span of the traced run. Times are epoch nanoseconds; `parent` is
  * the id of the span that caused this one (-1 for the root). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** Job, stage and query-execution events of the whole run, collected by
  * one SparkListener and one QueryExecutionListener. */
object Recorder {
  final case class Job(id: Int, group: Option[String], phase: Option[String],
                       start: Long, var end: Long, stageIds: Seq[Int])
  final class Stage(val id: Int) {
    var submitted = 0L; var completed = 0L
    var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var busyMs = 0L; var waitMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
  }
  /** Planning phases of one query execution, epoch millis. */
  final case class Planning(optimizer: (Long, Long), planner: (Long, Long))
}

final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  private val planned = mutable.ArrayBuffer[Planning]()

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs(e.jobId) = Job(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))),
      p.flatMap(x => Option(x.getProperty("spark.job.description"))),
      e.time * 1000000L, e.time * 1000000L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitted =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000000L
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).completed =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val info = e.taskInfo
    s.busyMs += info.finishTime - info.launchTime
    if (s.submitted > 0) s.waitMs += math.max(0L, info.launchTime - s.submitted / 1000000L)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  private def phase(qe: QueryExecution, name: String): (Long, Long) =
    qe.tracker.phases.get(name).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planned += Planning(phase(qe, QueryPlanningTracker.OPTIMIZATION),
        phase(qe, QueryPlanningTracker.PLANNING))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning records delivered since the last call. */
  def takePlanning(): Seq[Planning] = synchronized {
    val out = planned.toSeq; planned.clear(); out
  }
}

/** Records spans from the benchmark's own calls into each layer:
  * run → pass → query → construct / plan / exec → Spark job → stage.
  * Jobs carry the query as their job group and the phase as their job
  * description; a job without a group is attributed to the query span
  * whose interval contains it. */
final class Tracer(spark: SparkSession) {
  val recorder = new Recorder
  spark.sparkContext.addSparkListener(recorder)
  spark.listenerManager.register(recorder)

  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private def add(parent: Int, layer: String, name: String, start: Long, end: Long,
                  attrs: Map[String, Double] = Map.empty): Span = {
    val s = Span(nextId, parent, layer, name, start, end, attrs)
    nextId += 1; spans += s; s
  }
  val root: Span = open(-1, "run", "run")
  def all: Seq[Span] = spans.toSeq

  private def drain(): Unit = Bus.drain(spark.sparkContext)

  /** A span under `parent` that starts now; [[close]] sets its end. */
  def open(parent: Int, layer: String, name: String): Span = add(parent, layer, name, now(), now())
  def close(s: Span): Span = {
    val closed = s.copy(end = now())
    spans(spans.indexWhere(_.id == s.id)) = closed
    closed
  }

  /** One query: the construct phase is the call of the query lambda,
    * the write is the noop sink. The write splits into plan (the
    * optimizer and planner phases of its query executions, clipped to
    * the write) and exec (the rest of the write). */
  def query(parent: Int, name: String, build: => DataFrame, write: DataFrame => Unit): Span = {
    val sc = spark.sparkContext
    drain(); recorder.takePlanning()
    sc.setJobGroup(name, "construct")
    try {
      val c0 = now()
      val df = try build finally drain()
      val c1 = now()
      recorder.takePlanning()
      sc.setJobDescription("exec")
      try write(df) finally drain()
      val w1 = now()
      def clipped(iv: (Long, Long)): Long =
        math.max(0L, math.min(iv._2 * 1000000L, w1) - math.max(iv._1 * 1000000L, c1))
      val planning = recorder.takePlanning()
      val optNs = planning.map(p => clipped(p.optimizer)).sum
      val planNs = math.min(w1 - c1, optNs + planning.map(p => clipped(p.planner)).sum)
      val q = add(parent, "query", name, c0, w1)
      add(q.id, "construct", name, c0, c1)
      add(q.id, "plan", name, c1, c1 + planNs, Map("optimizer_s" -> optNs / 1e9))
      add(q.id, "exec", name, c1 + planNs, w1)
      q
    } finally sc.clearJobGroup()
  }

  /** Adds job and stage spans under the phase spans that caused them. */
  def attachJobs(): Unit = recorder.synchronized {
    // listener times have millisecond resolution
    def within(s: Span, t: Long): Boolean = s.start - 1000000L <= t && t <= s.end
    val queries = spans.filter(_.layer == "query").toSeq
    val phases = spans.filter(s => s.layer == "construct" || s.layer == "exec").toSeq
    val attached = mutable.Set[Int]()
    for (j <- recorder.jobs.values) {
      val owner = queries.find(q => j.group.contains(q.name) && within(q, j.start))
        .orElse(queries.find(q => within(q, j.start)))
      owner.foreach { q =>
        val phaseName = j.phase.filter(p => p == "construct" || p == "exec")
        val parent = phases.find(p => p.parent == q.id &&
          phaseName.fold(within(p, j.start))(_ == p.layer)).getOrElse(q)
        val js = add(parent.id, "job", s"job ${j.id}", j.start, math.max(j.end, j.start))
        for (sid <- j.stageIds; st <- recorder.stages.get(sid)
             if st.completed > 0 && st.submitted > 0 && attached.add(sid))
          add(js.id, "stage", s"stage $sid", st.submitted, st.completed, Map(
            "tasks" -> st.tasks, "failed_tasks" -> st.failedTasks,
            "task_s" -> st.runMs / 1e3, "task_cpu_s" -> st.cpuNs / 1e9,
            "busy_s" -> st.busyMs / 1e3, "wait_s" -> st.waitMs / 1e3,
            "shuffle_write_mb" -> st.shuffleWriteBytes / 1048576.0,
            "spill_mb" -> st.spillBytes / 1048576.0))
      }
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  def descendants(id: Int, layer: String): Seq[Span] = {
    val kids = children(id)
    kids.filter(_.layer == layer) ++ kids.flatMap(k => descendants(k.id, layer))
  }

  /** Duration minus the part of the interval its children cover. */
  def selfNs(s: Span): Long = {
    val iv = children(s.id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = 0L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start) - covered
  }
}
