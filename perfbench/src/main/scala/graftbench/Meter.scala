package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Cumulative engine counters. The difference of two snapshots measures
  * the window between them. Times: run in ms, cpu in ns, gc in ms. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskFailures: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, recordsRead: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, outputBytes: Long = 0) {

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskFailures + o.taskFailures, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, inputBytes + o.inputBytes, recordsRead + o.recordsRead,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    outputBytes + o.outputBytes)

  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskFailures - o.taskFailures, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, inputBytes - o.inputBytes, recordsRead - o.recordsRead,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes)

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "records_read" -> recordsRead, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes)
}

/** One Spark job as the listener saw it, with its tasks folded in. */
final class JobRec(val id: Int, val start: Long, val execId: Long) {
  var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var maxTaskMs = 0L
}

/** The benchmark's SparkListener: job intervals, task metrics and the
  * path each SQL execution writes (or reads), all kept in memory. */
final class Meter extends SparkListener {
  private var totals = Counters()
  private val stageToJob = mutable.Map[Int, Int]()
  private val jobRecs = mutable.LinkedHashMap[Int, JobRec]()
  private val execPaths = mutable.Map[Long, String]()
  private val execRoots = mutable.Map[Long, Long]()

  def snapshot: Counters = synchronized(totals)

  /** Jobs that started in [from, to) (epoch ms), ended or not. */
  def jobsBetween(from: Long, to: Long): Seq[JobRec] = synchronized {
    jobRecs.values.filter(j => j.start >= from && j.start < to).toSeq
  }

  /** The path of an execution, else of the root execution it runs under
    * (a write command runs its query as a nested execution). */
  def pathOf(execId: Long): Option[String] = synchronized {
    execPaths.get(execId).orElse(execRoots.get(execId).flatMap(execPaths.get))
  }

  def jobs: Seq[JobRec] = synchronized(jobRecs.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobRecs(e.jobId) = new JobRec(e.jobId, e.time, exec)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { totals = totals.copy(stages = totals.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.taskInfo != null && e.taskInfo.failed) 1L else 0L
    val m = e.taskMetrics
    if (m == null) totals = totals.copy(tasks = totals.tasks + 1,
      taskFailures = totals.taskFailures + failed)
    else {
      totals = Counters(
        totals.jobs, totals.stages, totals.tasks + 1,
        totals.taskFailures + failed,
        totals.runMs + m.executorRunTime, totals.cpuNs + m.executorCpuTime,
        totals.gcMs + m.jvmGCTime,
        totals.inputBytes + m.inputMetrics.bytesRead,
        totals.recordsRead + m.inputMetrics.recordsRead,
        totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        totals.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        totals.outputBytes + m.outputMetrics.bytesWritten)
      stageToJob.get(e.stageId).flatMap(jobRecs.get).foreach { j =>
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.maxTaskMs = math.max(j.maxTaskMs, m.executorRunTime)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      Stats.planPath(s.physicalPlanDescription).foreach(execPaths(s.executionId) = _)
      s.rootExecutionId.filter(_ != s.executionId).foreach(execRoots(s.executionId) = _)
    }
    case _ =>
  }
}

/** A timed public call: wall clock (epoch ms and nanoTime) plus the
  * engine counters at both boundaries when tracing. */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long,
    before: Counters, after: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
  def millis: Double = (endNs - startNs) / 1e6
  def delta: Counters = after - before
}

/** Spans around every public call a workload makes. Untraced, a span
  * is only a clock read at each end. Traced, each boundary first drains
  * the listener bus and snapshots the meter; the drain happens outside
  * the clock reads, so the measured call does not pay for it. */
final class Tracer(sc: SparkContext, val meter: Option[Meter], val runId: String) {
  private val stack = mutable.Stack[Int]()
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 0

  /** Time spent draining and snapshotting: the tracing overhead. */
  var overheadNs = 0L

  def traced: Boolean = meter.isDefined

  def counters(): Counters = meter.fold(Counters()) { m =>
    val t0 = System.nanoTime()
    org.apache.spark.GraftBenchBridge.drainListeners(sc)
    val c = m.snapshot
    overheadNs += System.nanoTime() - t0
    c
  }

  def span[A](name: String)(f: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = counters()
    stack.push(id)
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    val out = try f finally stack.pop()
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val s = Span(id, parent, name, startMs, endMs, startNs, endNs, before, counters())
    if (traced) done += s
    (out, s)
  }

  def spans: Seq[Span] = done.toSeq

  /** Duration minus the time covered by direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Stats.unionLength(kids.toSeq)) / 1e9
  }
}
