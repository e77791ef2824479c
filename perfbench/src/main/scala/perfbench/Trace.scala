package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory, written out at the end of the run. Each span runs
  * under its own Spark job group, so the [[EngineListener]] can charge task
  * time, shuffle, spill and GC to the span that caused them.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def group(id: Int): String = s"$runId-span-$id"

  def span[A](name: String)(f: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    stack = id :: stack
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val a = f
      val s = Span(id, name, parent, runId, t0, System.nanoTime(), ms0,
        System.currentTimeMillis())
      spans += s
      (a, s)
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s).sortBy(_.startNs)
    var covered = 0L
    var until = s.startNs
    kids.foreach { k =>
      val a = math.max(k.startNs, until)
      val b = math.min(k.endNs, s.endNs)
      if (b > a) { covered += b - a; until = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("run_id" -> s.runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "duration_s" -> s.seconds, "self_s" -> selfSeconds(s)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         schedDelayMs: Long, inRecords: Long,
                         shuffleBytes: Long,
                         shuffleRecords: Long, spillBytes: Long)

final case class JobRec(jobId: Int, group: String, site: String,
                        startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3

  /** The innermost program frame (`Object$.method`) on the job's call
    * site, so a job can be charged to the program function that ran it.
    */
  def programFrame: String =
    site.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft."))
      .map(l => l.takeWhile(_ != '('))
      .getOrElse("")
}

/** Aggregate of the tasks of a set of jobs. */
final case class Work(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                      cpuS: Double, gcS: Double, schedDelayS: Double,
                      inRecords: Long,
                      shuffleBytes: Long, shuffleRecords: Long,
                      spillBytes: Long, jobS: Double)

/** Engine layer as seen from outside: every job and task of the session,
  * tagged with the job group (span) that was current at submission.
  */
final class EngineListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val open = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  // SQL execution id -> call site of the Dataset action that started it:
  // adaptive execution submits a query's later jobs from its own threads,
  // whose stacks no longer show the program function that asked for them
  private val executionSite = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionSite(s.executionId.toString) = s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) =>
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val site = prop("spark.sql.execution.id").flatMap(executionSite.get)
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details))
      .getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    open(e.jobId) = JobRec(e.jobId, group, site, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null) {
      val dur = i.finishTime - i.launchTime
      val delay = math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def finishedJobs: Seq[JobRec] = synchronized(jobs.toSeq)

  def jobsIn(groups: Set[String]): Seq[JobRec] =
    finishedJobs.filter(j => groups.contains(j.group))

  def work(js: Seq[JobRec]): Work = synchronized {
    val ids = js.map(_.jobId).toSet
    val ts = tasks.filter(t => stageJob.get(t.stageId).exists(ids.contains))
    Work(js.size, ts.map(_.stageId).distinct.size, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.schedDelayMs).sum / 1e3,
      ts.map(_.inRecords).sum,
      ts.map(_.shuffleBytes).sum, ts.map(_.shuffleRecords).sum,
      ts.map(_.spillBytes).sum, js.map(_.seconds).sum)
  }

  /** Share of the span's wall time during which at most one task of its
    * jobs was running (stretches with no task running count as serial).
    */
  def serialFrac(s: Span, js: Seq[JobRec]): Double = synchronized {
    val ids = js.map(_.jobId).toSet
    val ev = tasks.filter(t => stageJob.get(t.stageId).exists(ids.contains))
      .flatMap(t => Seq((math.max(t.launchMs, s.startMs), 1),
        (math.min(t.finishMs, s.endMs), -1)))
      .filter(_._1 <= s.endMs).sortBy(e => (e._1, e._2))
    val wall = math.max(1L, s.endMs - s.startMs)
    var parallel = 0L
    var running = 0
    var last = s.startMs
    ev.foreach { case (t, d) =>
      if (running > 1) parallel += t - last
      running += d
      last = t
    }
    1.0 - parallel.toDouble / wall
  }
}
