package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into the program's layers, and the
  * Spark-level records the benchmark's listeners attach under them.
  *
  * A span sets the Spark local property [[Tracer.SpanProp]] on the calling
  * thread for its duration, so every job the call submits carries the span
  * id; jobs, their task metrics and their planning time are then children
  * of that span. Nothing is recorded when tracing is off. Everything is kept
  * in memory and written out once, at the end. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val parentOf = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val barriers = new ConcurrentHashMap[String, CountDownLatch]()

  /** Run `body` as a span named `name` (a plain call when tracing is off). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = parentOf.get()
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      parentOf.set(id)
      val t0 = nowMs()
      try body
      finally {
        spans.add(Span(id, name, parent.longValue, Thread.currentThread.getName, t0, nowMs()))
        parentOf.set(parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String): String = if (p == null) null else p.getProperty(k)
      Option(prop(BarrierProp)).foreach(b => Option(barriers.get(b)).foreach(_.countDown()))
      val span = Option(prop(SpanProp)).map(_.toLong).getOrElse(0L)
      val batch = Option(prop("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
      // a micro-batch's jobs all carry the query's call site; take the
      // submitting frame from the stream thread when it provably still
      // waits for this job, else leave the job unattributed. Other jobs:
      // the result stage is named after the job's call site.
      val site =
        if (batch >= 0) streamCallSite(e.jobId).getOrElse(Unattributed)
        else Option(prop("callSite.short"))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
      val exec = Option(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, span, e.time, site, exec, batch))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.diskBytesSpilled
      }
    }
  }

  /** The id the scheduler gives the next job it is handed (reflection: the
    * scheduler is internal to Spark); None if this Spark has no such field. */
  private val nextJobId: Option[java.util.concurrent.atomic.AtomicInteger] =
    try {
      val dag = classOf[org.apache.spark.SparkContext].getMethod("dagScheduler").invoke(sc)
      Some(dag.getClass.getMethod("nextJobId").invoke(dag)
        .asInstanceOf[java.util.concurrent.atomic.AtomicInteger])
    } catch { case _: ReflectiveOperationException => None }

  /** `method at File.scala:line` of the innermost program frame on the
    * stream execution thread, as the call site of stream job `jobId`. The
    * listener sees a job after it was submitted, by which time the thread
    * may have moved on; so the sample counts only when the thread is parked
    * inside a job-running action (`DAGScheduler.runJob`, or adaptive
    * execution waiting for its stages) and no job after `jobId` has been
    * submitted since: then the action it waits in is the one that submitted
    * `jobId`. Otherwise None. */
  private def streamCallSite(jobId: Int): Option[String] =
    Thread.getAllStackTraces.asScala.collectFirst {
      case (t, st) if t.getName.startsWith("stream execution thread") => (t.getState, st)
    }.filter { case (state, st) =>
      val parked = state == Thread.State.WAITING || state == Thread.State.TIMED_WAITING
      val inAction = st.exists(f =>
        (f.getClassName == "org.apache.spark.scheduler.DAGScheduler" && f.getMethodName == "runJob") ||
          f.getClassName.startsWith("org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec"))
      // read after the stack sample: no later job existed when it was taken
      parked && inAction && nextJobId.exists(_.get == jobId + 1)
    }.flatMap(_._2.find(f => f.getClassName.startsWith("graft.")))
      .map(f => s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}")

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add(PlanRec(qe.id, phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Wait until the listeners have seen every job submitted before this call
    * (a marker job's start event is queued behind them). */
  def sync(): Unit = if (enabled) {
    val key = ids.incrementAndGet().toString
    val latch = new CountDownLatch(1)
    barriers.put(key, latch)
    sc.setLocalProperty(BarrierProp, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(BarrierProp, null)
    // a job event queued after the plan listener's callbacks of earlier
    // actions: wait for it, then give the shared queue a moment to drain
    latch.await(30, TimeUnit.SECONDS)
    Thread.sleep(200)
  }

  def spansNamed(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  def jobsOf(ss: Seq[Span]): Seq[JobRec] = {
    val set = ss.map(_.id).toSet
    jobs.values.asScala.filter(j => set.contains(j.span)).toSeq
  }

  /** Planning time (analysis + optimization + planning) of every SQL
    * execution whose jobs ran under one of `ss`. */
  def planMsOf(ss: Seq[Span]): Double = {
    val execs = jobsOf(ss).map(_.exec).filter(_ >= 0).toSet
    plans.asScala.filter(p => execs.contains(p.qeId)).map(_.planMs).sum
  }

  def jobsBetween(t0: Double, t1: Double): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.start >= t0 && j.start < t1).toSeq

  def plansBetween(t0: Double, t1: Double): Seq[PlanRec] =
    plans.asScala.filter(p => p.startMs >= t0 && p.startMs < t1).toSeq

  /** Per span name: count, total wall and self time (wall minus the part of
    * it covered by child spans and by jobs submitted under it). */
  def summary(): Map[String, Map[String, Double]] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val jobKids = jobs.values.asScala.toSeq.filter(_.end > 0).groupBy(_.span)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)) ++
          jobKids.getOrElse(s.id, Nil).map(j => (j.start.toDouble, j.end.toDouble))
        s.durMs - Stats.unionMs(covered.map { case (a, b) =>
          (math.max(a, s.startMs), math.min(b, s.endMs)) })
      }
      name -> Map("count" -> ss.size.toDouble, "total_ms" -> ss.map(_.durMs).sum,
        "self_ms" -> self.sum)
    }
  }

  /** Write spans (layer calls, jobs and planning) and the self-time summary. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val spanRows = spans.asScala.toSeq.sortBy(_.startMs).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "thread" -> s.thread,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val jobRows = jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "job" -> j.id, "parent" -> j.span, "call_site" -> j.callSite,
      "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
      "exec_cpu_ms" -> j.cpuNs / 1e6, "exec_run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
      "shuffle_write_b" -> j.shuffleWriteB, "spill_b" -> j.spillB,
      "sql_execution" -> j.exec, "stream_batch" -> j.batch))
    val planRows = plans.asScala.toSeq.map(p => Map(
      "sql_execution" -> p.qeId, "start_ms" -> p.startMs, "plan_ms" -> p.planMs))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Stats.json(Map(
      "spans" -> spanRows, "jobs" -> jobRows, "plans" -> planRows,
      "summary" -> summary())))
  }

  def close(): Unit = {
    if (enabled) {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Call site of a stream job whose submitting frame could not be sampled. */
  val Unattributed = "unattributed"
  private val BarrierProp = "perfbench.barrier"

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
    * same base as Spark's listener event times. */
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNanos = System.nanoTime()
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6

  final case class Span(
      id: Long, name: String, parent: Long, thread: String, startMs: Double, endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  final class JobRec(
      val id: Int, val span: Long, val start: Long, val callSite: String,
      val exec: Long, val batch: Long) {
    @volatile var end: Long = 0L
    @volatile var tasks: Long = 0L
    @volatile var runMs: Long = 0L
    @volatile var cpuNs: Long = 0L
    @volatile var gcMs: Long = 0L
    @volatile var shuffleWriteB: Long = 0L
    @volatile var spillB: Long = 0L
    def durMs: Double = if (end > 0) (end - start).toDouble else 0.0
    /** Source file of the job's call site (`count at LshIndex.scala:120`). */
    def siteFile: String = callSite.split(" at ").lastOption.getOrElse("").split(":").head
  }

  final case class PlanRec(qeId: Long, startMs: Long, planMs: Double)
}
