package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** What one measured body ran: driver jobs, EXECUTED tasks (a job start's
  * stage infos also list stages later skipped via exchange reuse, so tasks
  * are counted at task end) and their summed executor run / CPU / GC time,
  * shuffle bytes and spill — in total and per [[graft.pipeline.StageTimers]]
  * phase — plus the Catalyst planning time of its SQL actions, the
  * generated classes compiled (cache misses of Spark's codegen cache, on
  * the driver and in tasks), and one record per job with its call site and
  * phase.
  *
  * The job count is the boot-stable metric: plan-determined, and at a
  * streaming trigger every job is one driver round-trip against the
  * scheduler floor. The compile count is boot-stable too: a compile is a
  * miss in a JVM-wide cache keyed by generated source. Wall clock on a
  * shared box is not.
  *
  * @param planMs analysis + optimization + physical planning of every SQL
  *   execution that ended in the body, on any session of the context
  * @param perPhase work per phase, in first-seen order ("" = outside any
  *   phase); phases nest, and a job counts in its innermost phase only */
final case class JobStats(
    compiles: Long,
    planMs: Long,
    records: Seq[JobStats.Job],
    perPhase: Seq[(String, JobStats.Work)]) {

  /** The body's totals: the sum of its phases. */
  val total: JobStats.Work = perPhase.map(_._2).foldLeft(JobStats.Work())(_ + _)

  def jobs: Int = records.size
  def tasks: Int = total.tasks
}

/** The one job recorder: every job, task and phase count in the repo comes
  * from [[JobStats.measure]]. */
object JobStats {

  final case class Job(id: Int, site: String, phase: String)

  /** Jobs and executed-task metrics summed over a phase (or a body). */
  final case class Work(
      jobs: Int = 0,
      tasks: Int = 0,
      runMs: Long = 0,
      cpuNs: Long = 0,
      gcMs: Long = 0,
      shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0,
      memorySpillBytes: Long = 0,
      diskSpillBytes: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
      runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes,
      memorySpillBytes + o.memorySpillBytes, diskSpillBytes + o.diskSpillBytes)
  }

  /** Run `body` and return what it ran on `sc`. The listener bus is
    * asynchronous, so the bus is drained before the listener is added (no
    * earlier event can reach it) and again before it is read (every event
    * of the body's awaited jobs has arrived) — exact at any load, where a
    * fixed sleep is not. Jobs that other threads submit meanwhile count
    * too, and so do compiles: Spark's codegen metrics are static, one
    * count per JVM (local mode runs the executors in the same JVM). */
  def measure[T](sc: SparkContext)(body: => T): (T, JobStats) = {
    org.apache.spark.GraftScheduler.drainListeners(sc)
    val rec = new Recorder
    val compiles0 = compileCount
    sc.addSparkListener(rec)
    try {
      val r = body
      org.apache.spark.GraftScheduler.drainListeners(sc)
      (r, rec.stats(compileCount - compiles0))
    } finally sc.removeSparkListener(rec)
  }

  /** Generated classes compiled in this JVM so far: Spark records one
    * compilation time per codegen cache miss. */
  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Fed by the bus's dispatch thread, read by the measuring thread after
    * a drain: every access holds the recorder's lock. */
  private final class Recorder extends SparkListener {
    private val jobs = mutable.ArrayBuffer.empty[Job]
    // a stage keeps the phase of the first job that listed it: a later job
    // lists it again only when it reuses (skips) the stage
    private val phaseOfStage = mutable.HashMap.empty[Int, String]
    private val phases = mutable.LinkedHashMap.empty[String, Work]
    private var planMs = 0L

    private def add(phase: String, w: Work): Unit =
      phases(phase) = phases.getOrElse(phase, Work()) + w

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage is named after the job's call site
      val site = prop("callSite.short")
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      val phase = prop(pipeline.StageTimers.PhaseProp).getOrElse("")
      jobs += Job(js.jobId, site, phase)
      js.stageIds.foreach(phaseOfStage.getOrElseUpdate(_, phase))
      add(phase, Work(jobs = 1))
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      val w = if (m == null) Work(tasks = 1) else Work(
        tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        memorySpillBytes = m.memoryBytesSpilled,
        diskSpillBytes = m.diskBytesSpilled)
      add(phaseOfStage.getOrElse(te.stageId, ""), w)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val ms = org.apache.spark.sql.GraftInternal.planMs(end)
        synchronized { planMs += ms }
      case _ =>
    }

    def stats(compiles: Long): JobStats = synchronized {
      JobStats(compiles, planMs, jobs.toSeq, phases.toSeq)
    }
  }
}
