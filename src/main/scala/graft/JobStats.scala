package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** What one measured body ran: driver jobs, EXECUTED tasks (a job start's
  * stage infos also list stages later skipped via exchange reuse, so tasks
  * are counted at task end), their summed executor run / CPU / GC time, the
  * generated classes compiled (cache misses of Spark's codegen cache, on
  * the driver and in tasks), and one record per job with its call site and
  * [[graft.pipeline.StageTimers]] phase.
  *
  * The job count is the boot-stable metric: plan-determined, and at a
  * streaming trigger every job is one driver round-trip against the
  * scheduler floor. The compile count is boot-stable too: a compile is a
  * miss in a JVM-wide cache keyed by generated source. Wall clock on a
  * shared box is not. */
final case class JobStats(
    tasks: Int,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    compiles: Long,
    records: Seq[JobStats.Job]) {

  def jobs: Int = records.size

  /** Job count per phase, in first-seen order ("" = outside any phase). */
  def perPhase: Seq[(String, Int)] =
    records.map(_.phase).distinct.map(p => (p, records.count(_.phase == p)))
}

/** The one job recorder: every job, task and phase count in the repo comes
  * from [[JobStats.measure]]. */
object JobStats {

  final case class Job(id: Int, site: String, phase: String)

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

  private final class Recorder extends SparkListener {
    private val jobs = new ConcurrentLinkedQueue[Job]()
    private val tasks = new AtomicInteger()
    private val runMs, cpuNs, gcMs = new AtomicLong()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage is named after the job's call site
      val site = prop("callSite.short")
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      jobs.add(Job(js.jobId, site, prop(pipeline.StageTimers.PhaseProp).getOrElse("")))
      ()
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(te.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }

    def stats(compiles: Long): JobStats =
      JobStats(tasks.get, runMs.get, cpuNs.get, gcMs.get, compiles,
        jobs.asScala.toSeq)
  }
}
