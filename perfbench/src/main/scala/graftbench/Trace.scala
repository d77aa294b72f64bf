package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One time axis for spans and listener events. Spark stamps job events
  * with `System.currentTimeMillis`; spans are timed with `nanoTime` and
  * placed on the same epoch-millisecond axis through one anchor pair, so
  * a job can be matched to the span that was open when it started. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def now: Long = System.nanoTime()
  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6
}

/** A timed interval at a layer boundary. `stmt` ties every span of one
  * statement together; `parent` is the enclosing span (-1 for a root). */
final case class Span(
    id: Int, stmt: Int, name: String, parent: Int,
    startMs: Double, var endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder for the single client thread. Spans are kept
  * until the run ends and written out in one piece. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](stmt: Int, name: String)(f: => T): T = {
    val s = Span(all.size, stmt, name, open.headOption.fold(-1)(_.id),
      Clock.epochMs(Clock.now), 0.0)
    all += s
    open = s :: open
    try f
    finally {
      s.endMs = Clock.epochMs(Clock.now)
      open = open.tail
    }
  }

  /** A child span whose bounds were measured elsewhere (listener jobs,
    * Catalyst phases). */
  def add(stmt: Int, name: String, parent: Int, startMs: Double,
      endMs: Double): Span = {
    val s = Span(all.size, stmt, name, parent, startMs, endMs)
    all += s
    s
  }
}

final case class JobRec(
    id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int],
    description: String, module: String)

final class StageAgg {
  var completed = false
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var failures = 0L
}

/** Records every Spark job, stage and task of the run. Jobs are matched
  * to statements afterwards by start time alone, never by job group:
  * with one client every job that starts inside a statement's window is
  * that statement's, including jobs submitted from pooled `Future`s that
  * do not inherit the caller's local properties. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  /** SQL execution id -> call site of the action that started it. Adaptive
    * query stages and broadcasts run on Spark's own threads, so their jobs
    * carry no engine frame; their execution's call site does. */
  private val executions = mutable.HashMap.empty[Long, String]

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val callSite = e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")
    val viaExecution = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    val module = JobListener.engineModule(callSite)
      .orElse(viaExecution.flatMap(JobListener.engineModule))
      .getOrElse {
        val sites = callSite +: viaExecution.toSeq
        if (sites.exists(_.contains("graftbench."))) "client" else "async"
      }
    val j = JobRec(e.jobId, e.time, -1L, e.stageIds, desc, module)
    jobs += j
    byId(e.jobId) = j
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executions(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stage(e.stageInfo.stageId).completed = true }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (e.taskInfo != null) {
      s.busyMs += e.taskInfo.duration
      if (e.taskInfo.failed || e.taskInfo.killed) s.failures += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

object JobListener {
  private val GraftFrame = "\\s*(?:at\\s+)?graft\\.([a-z]+)\\..*".r

  /** The engine module that submitted a job: the package of the first
    * `graft.` frame of its call site, or of its SQL execution's call site.
    * Jobs of the benchmark's own collect are `client`; jobs with no engine
    * frame on either are `async`. */
  def engineModule(callSite: String): Option[String] =
    callSite.linesIterator.collectFirst { case GraftFrame(m) => m }
}

/** Length of the union of closed intervals: concurrent jobs (pooled
  * futures, broadcasts) overlap, and their wall time is counted once. */
object Intervals {
  def unionMs(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- xs.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Matches the listener's jobs to the timed statements by start time,
  * adds each job as a span under the layer that was open when it started,
  * and writes the per-statement job, stage, task and self-time figures
  * into the statement records. Returns the number of jobs that started
  * outside every statement window (set-up, warm-up, stragglers). */
object Attribution {
  import java.util.{LinkedHashMap => JMap}

  private val Layers = Seq("parse", "plan", "catalyst", "collect")

  def attach(
      spans: Spans, listener: JobListener,
      records: Seq[JMap[String, AnyRef]]): Long = {
    val stmtSpans = spans.all.filter(s => s.name == "statement" && s.stmt >= 0)
    val children = spans.all.groupBy(_.parent)
    val recByStmt = records.map(r => r.get("i").asInstanceOf[Int] -> r).toMap
    // a stage's tasks belong to the first job that lists it; later jobs
    // that reuse its output skip it
    val stageOwner = mutable.HashMap.empty[Int, Int]
    val jobs = listener.synchronized(listener.jobs.toList).sortBy(_.id)
    jobs.foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j.id)))

    val perStmt = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(JobRec, String)]]
    var outside = 0L
    for (j <- jobs) {
      val t = j.startMs.toDouble
      // job times are whole milliseconds: an exact hit wins over the
      // one-millisecond slack at a statement boundary
      stmtSpans.find(s => t >= s.startMs && t <= s.endMs)
        .orElse(stmtSpans.find(s => t >= s.startMs - 1 && t <= s.endMs + 1)) match {
        case None => outside += 1
        case Some(st) =>
          val layer = children.getOrElse(st.id, Nil)
            .find(c => Layers.contains(c.name) && t >= c.startMs - 1 && t <= c.endMs + 1)
            .getOrElse(st)
          val end = if (j.endMs >= j.startMs) j.endMs.toDouble else t
          spans.add(st.stmt, s"job.${j.module}", layer.id, t, end)
          perStmt.getOrElseUpdate(st.stmt, mutable.ArrayBuffer.empty) += (j -> layer.name)
      }
    }

    val byParent = spans.all.groupBy(_.parent)
    for (st <- stmtSpans; rec <- recByStmt.get(st.stmt)) {
      val js = perStmt.getOrElse(st.stmt, mutable.ArrayBuffer.empty)
      def put(k: String, v: Double): Unit = rec.put(k, Double.box(v))
      val planJobs = js.filter(_._2 == "plan").map(_._1)
      val execJobs = js.filter(x => x._2 == "collect" || x._2 == "catalyst").map(_._1)
      def wall(xs: Seq[JobRec]) = Intervals.unionMs(xs.map(j =>
        (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)))
      put("plan_jobs", planJobs.size)
      put("plan_job_ms", wall(planJobs.toSeq))
      put("exec_jobs", execJobs.size)
      val execStages = execJobs.flatMap(j => j.stageIds.filter(stageOwner.get(_).contains(j.id)))
        .flatMap(listener.stages.get).filter(_.completed)
      put("exec_stages", execStages.size)
      put("exec_tasks", execStages.map(_.tasks).sum)
      put("exec_task_busy_ms", execStages.map(_.busyMs).sum)
      put("exec_task_gc_ms", execStages.map(_.gcMs).sum)
      put("exec_task_failures", execStages.map(_.failures).sum)
      put("exec_shuffle_read_mb", execStages.map(_.shuffleReadBytes).sum / 1048576.0)
      put("exec_shuffle_write_mb", execStages.map(_.shuffleWriteBytes).sum / 1048576.0)
      put("exec_spill_mb", execStages.map(_.spillBytes).sum / 1048576.0)
      put("jobs_total", js.size)
      put("jobs_checkpoint", js.count(_._1.description == "graft:cp"))
      js.groupBy(_._1.module).foreach { case (m, xs) => put(s"jobs_$m", xs.size) }
      // self time: the layer span minus the part its children cover
      for (layer <- byParent.getOrElse(st.id, Nil) if Layers.contains(layer.name)) {
        val kids = byParent.getOrElse(layer.id, Nil).map(c =>
          (math.max(c.startMs, layer.startMs), math.min(c.endMs, layer.endMs)))
          .filter(x => x._2 > x._1)
        put(s"self_${layer.name}_ms", layer.ms - Intervals.unionMs(kids.toSeq))
      }
    }
    outside
  }
}
