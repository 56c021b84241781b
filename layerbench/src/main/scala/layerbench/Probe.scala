package layerbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local-property keys that tag every job with the op and phase that ran it. */
object Tags {
  val Op = "layerbench.op"
  val Phase = "layerbench.phase"
}

/** One span of the trace: `trace` is the query or micro-batch it belongs to. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty) {
  def toJson: String = Json(Map("id" -> id, "parent" -> parent, "trace" -> trace,
    "name" -> name, "start" -> start, "end" -> end) ++ attrs)
}

/** The wall-clock windows of one batch op's phases (epoch ms). */
final case class OpWindows(key: String, build: (Long, Long), action: (Long, Long),
    release: (Long, Long))

/** What Spark's public listeners report during a traced pass: jobs with
  * their tags, per-stage task metrics and the Catalyst phases of every
  * successful action. Callbacks come from listener-bus threads, so all
  * state is guarded by this object.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val op: String, val phase: String, val start: Long,
      val stageIds: Seq[Int], val name: String) {
    var end: Long = start
  }
  final class Stage {
    var attempts = 0; var tasks = 0L; var failed = 0L; var runMs = 0L
    var cpuNs = 0L; var gcMs = 0L; var shuffleW = 0L; var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def tag(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new Job(e.jobId, tag(Tags.Op), tag(Tags.Phase), e.time, e.stageIds, name)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageOwner(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new Stage).attempts += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    s.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (n, p) => phases += ((n, p.startTimeMs, p.endTimeMs)) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** A job is an open (schema inference) job when its stage is named
    * after the `spark.read.parquet` call in `SparkEntry.t`.
    */
  private def isOpen(j: Job): Boolean = j.name.startsWith("parquet at SparkEntry.scala")

  /** Counters and spans of one batch op, read after the bus is drained. */
  def batchOp(w: OpWindows, ids: Iterator[Int]): (Map[String, Double], Seq[Span]) = synchronized {
    val mine = jobs.values.filter(_.op == w.key).toSeq
    def ph(p: String) = mine.filter(_.phase == p)
    val (build, action, release) = (ph("build"), ph("action"), ph("release"))
    val open = build.filter(isOpen)
    def ran(js: Seq[Job]): Seq[Stage] = js.flatMap(j =>
      j.stageIds.filter(s => stageOwner.get(s).contains(j)).flatMap(stages.get))
      .filter(_.attempts > 0)
    def ms(js: Seq[Job]) = js.map(j => (j.end - j.start).toDouble).sum
    val (a0, a1) = w.action
    val cat = phases.filter { case (_, s, _) => s >= a0 && s <= a1 }
    def catMs(n: String) = cat.filter(_._1 == n).map { case (_, s, e) => (e - s).toDouble }.sum
    val bs = ran(build); val as = ran(action)
    val counters = Map[String, Double](
      "open_jobs" -> open.size, "open_ms" -> ms(open),
      "build_jobs" -> build.size, "build_stages" -> bs.map(_.attempts).sum,
      "action_jobs" -> action.size, "action_stages" -> as.map(_.attempts).sum,
      "tasks" -> as.map(_.tasks).sum, "task_run_ms" -> as.map(_.runMs).sum,
      "task_cpu_ms" -> as.map(_.cpuNs).sum / 1e6, "task_gc_ms" -> as.map(_.gcMs).sum,
      "shuffle_write_b" -> (bs ++ as).map(_.shuffleW).sum,
      "spill_b" -> (bs ++ as).map(_.spill).sum,
      "tasks_failed" -> (bs ++ as).map(_.failed).sum,
      "analysis_ms" -> catMs("analysis"), "optimization_ms" -> catMs("optimization"),
      "planning_ms" -> catMs("planning"))

    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, name: String, s: Long, e: Long, attrs: Map[String, Any] = Map.empty) = {
      val sp = Span(ids.next(), parent, w.key, name, s, e, attrs); spans += sp; sp.id
    }
    def jobSpans(parent: Int, js: Seq[Job]): Unit = js.foreach { j =>
      span(parent, if (isOpen(j)) "open" else "job", j.start, j.end,
        Map("job" -> j.id, "stage" -> j.name))
    }
    val root = span(-1, "query", w.build._1, w.release._2)
    jobSpans(span(root, "build", w.build._1, w.build._2), build)
    val act = span(root, "action", a0, a1)
    cat.filter(c => Set("analysis", "optimization", "planning")(c._1))
      .foreach { case (n, s, e) => span(act, n, s, e) }
    jobSpans(act, action)
    jobSpans(span(root, "release", w.release._1, w.release._2), release)
    (counters, spans.toSeq)
  }

  /** Job, stage and task totals over everything seen (the stream's micro-batches). */
  def totals: Map[String, Double] = synchronized {
    val ran = jobs.values.toSeq.flatMap(j =>
      j.stageIds.filter(s => stageOwner.get(s).contains(j)).flatMap(stages.get))
      .filter(_.attempts > 0)
    Map("action_jobs" -> jobs.size.toDouble, "action_stages" -> ran.map(_.attempts).sum.toDouble,
      "tasks" -> ran.map(_.tasks).sum.toDouble, "task_run_ms" -> ran.map(_.runMs).sum.toDouble,
      "task_cpu_ms" -> ran.map(_.cpuNs).sum / 1e6, "task_gc_ms" -> ran.map(_.gcMs).sum.toDouble,
      "shuffle_write_b" -> ran.map(_.shuffleW).sum.toDouble,
      "spill_b" -> ran.map(_.spill).sum.toDouble, "tasks_failed" -> ran.map(_.failed).sum.toDouble)
  }
}
