package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._

/** One timed call into the program. `parent` is the id of the span that
  * caused it (-1 for a root). The run record stores a run's spans under
  * that run's id.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The benchmark's clock. Every call the workloads time goes through
  * `span`, traced or not, so untraced and traced runs time the same
  * region. Spans are kept only when tracing; they stay in memory and are
  * written out with the run record.
  */
final class Tracer(val runId: String, val traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      if (traced) spans += Span(id, parent, name, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally stack = stack.tail
  }

  /** A span's self time is its duration minus the time its children
    * cover. Children of one parent run one after another here, so their
    * durations do not overlap and simply add up.
    */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Totals of the task metrics Spark reports, as a snapshot. */
final case class ExecTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
    taskBusyNs: Long = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0) {
  private def zip(o: ExecTotals, f: (Long, Long) => Long): ExecTotals = ExecTotals(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(failedTasks, o.failedTasks),
    f(taskBusyNs, o.taskBusyNs), f(gcMs, o.gcMs),
    f(shuffleReadBytes, o.shuffleReadBytes), f(shuffleWriteBytes, o.shuffleWriteBytes),
    f(spillBytes, o.spillBytes), f(inputBytes, o.inputBytes), f(inputRecords, o.inputRecords))
  def +(o: ExecTotals): ExecTotals = zip(o, _ + _)
  def -(o: ExecTotals): ExecTotals = zip(o, _ - _)
}

/** The benchmark's own SparkListener: per-stage task counts and task
  * metrics, task run intervals (for driver-only time) and, per stage,
  * the slowest task against the median task.
  */
final class ExecProfile extends SparkListener {
  private var t = ExecTotals()
  private val stageTaskMs = scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]
  /** (launch, finish) wall-clock milliseconds of every finished task. */
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  /** Largest slowest-over-median task ratio among stages of >= 4 tasks. */
  private var maxSkew = 0.0

  def totals: ExecTotals = synchronized(t)
  def skew: Double = synchronized(maxSkew)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { t = t.copy(jobs = t.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val failed = if (info.successful) 0 else 1
    intervals += ((info.launchTime, info.finishTime))
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      info.duration
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1, failedTasks = t.failedTasks + failed)
    else t.copy(
      tasks = t.tasks + 1,
      failedTasks = t.failedTasks + failed,
      taskBusyNs = t.taskBusyNs + m.executorRunTime * 1000000L,
      gcMs = t.gcMs + m.jvmGCTime,
      shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = t.inputRecords + m.inputMetrics.recordsRead)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    t = t.copy(stages = t.stages + 1)
    stageTaskMs.remove(key).foreach { ds =>
      if (ds.size >= 4) {
        val s = ds.sorted
        val med = math.max(1L, s(s.size / 2))
        maxSkew = math.max(maxSkew, s.last.toDouble / med)
      }
    }
  }

  /** Milliseconds of [fromMs, toMs] during which at least one task ran. */
  def taskCoveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  def forgetIntervalsBefore(ms: Long): Unit = synchronized {
    intervals.filterInPlace(_._2 >= ms)
  }
}

/** Per-operation profile of a traced run: the listener's totals over
  * the operation, driver-only time and codegen work, plus storage and
  * threads left behind once it returns.
  */
final case class OpProfile(
    exec: ExecTotals, wallS: Double, driverOnlyS: Double,
    codegenClasses: Long, codegenMs: Double, storageMb: Double, liveThreads: Int)

object OpProfile {

  /** Runs `f` and profiles it; with no listener, only times it. */
  def measure[A](sc: SparkContext, listener: Option[ExecProfile])(f: => A): (A, Option[OpProfile]) =
    listener match {
      case None => (f, None)
      case Some(l) =>
        SparkInternals.drainListeners(sc)
        val before = l.totals
        val (cg0, cgMs0) = SparkInternals.codegen()
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val r = f
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        SparkInternals.drainListeners(sc)
        val (cg1, cgMs1) = SparkInternals.codegen()
        val wall = (t1 - t0) / 1e9
        val covered = l.taskCoveredMs(ms0, ms1) / 1e3
        l.forgetIntervalsBefore(ms1)
        val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
        val threads = java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount
        (r, Some(OpProfile(l.totals - before, wall, math.max(0.0, wall - covered),
          cg1 - cg0, cgMs1 - cgMs0, storage, threads)))
    }
}
