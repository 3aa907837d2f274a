package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run produced. `e2e` carries the three workload-defined
  * end-to-end metrics (latency, throughput, live heap); `report` carries the
  * workload's named metrics for the report line; `layers` the per-layer
  * metrics of a traced run. */
final case class Outcome(
    setupS: Seq[Double],
    latencyMs: Double,
    recordsPerS: Double,
    liveHeapMb: Double,
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    report: Map[String, Any],
    layers: Map[String, Double],
    windowMs: Double,
    windowStartMs: Double)

/** Everything a workload needs: the session, the tracer, its seed and
  * window, and a private scratch directory inside the checkout. */
final case class Ctx(
    spark: SparkSession, tracer: Tracer, seed: Long, seconds: Int, work: Path) {
  def rnd(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream)
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

object Main {

  /** Per-layer metrics, printed on every traced run. A layer the workload
    * does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "log.append.calls" -> "count",
    "log.append.jobs_per_call" -> "count",
    "log.append.tasks_per_call" -> "count",
    "log.append.job_ms_per_call" -> "ms",
    "log.append.driver_ms_per_call" -> "ms",
    "log.append.plan_ms_per_call" -> "ms",
    "log.append.cpu_ms_per_krec" -> "ms",
    "log.append.shuffle_kb_per_krec" -> "KB",
    "log.append.files_per_call" -> "count",
    "log.append.stored_bytes_per_user_byte" -> "ratio",
    "log.append.ms_per_index_delta" -> "ms",
    "log.index.delta_files_mean" -> "count",
    "log.poll.calls" -> "count",
    "log.poll.read_ms_p50" -> "ms",
    "log.poll.jobs_per_call" -> "count",
    "log.poll.files_per_call" -> "count",
    "groups.poll_call_ms_p50" -> "ms",
    "groups.committed_job_ms_p50" -> "ms",
    "groups.commit_jobs_per_call" -> "count",
    "groups.offset_files" -> "count",
    "groups.dup_records" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.overhead_ms_p50" -> "ms",
    "pipeline.lsh_job_ms_per_batch" -> "ms",
    "pipeline.span_job_ms_per_batch" -> "ms",
    "pipeline.append_job_ms_per_batch" -> "ms",
    "pipeline.other_job_ms_per_batch" -> "ms",
    "pipeline.unattributed_jobs_per_batch" -> "count",
    "pipeline.jobs_per_batch" -> "count",
    "pipeline.tasks_per_batch" -> "count",
    "pipeline.cpu_s_per_batch" -> "s",
    "pipeline.shuffle_mb_per_batch" -> "MB",
    "pipeline.spill_mb_per_batch" -> "MB",
    "pipeline.doc_keep_frac" -> "ratio",
    "pipeline.lsh_index_files" -> "count",
    "spark.job_floor_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.exec_cpu_s" -> "s",
    "spark.exec_run_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.plan_ms" -> "ms",
    "spark.floor_share" -> "ratio")

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "produce_small" -> ProduceSmall.run,
    "produce_consume" -> ProduceConsume.run,
    "curate_stream" -> CurateStream.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "20").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "bench-work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark, traced)
    val loadStart = loadAvg()
    val stealStart = stealTicks()
    val stealT0 = System.nanoTime()
    val floorStart = jobFloor(spark)
    val out =
      try run(Ctx(spark, tracer, seed, seconds, work))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          deleteRecursively(work)
          sys.exit(1)
      }
    val floorEnd = jobFloor(spark)
    tracer.sync()
    val env = Map(
      "nproc" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "job_floor_ms_start" -> floorStart._1,
      "job_floor_ms_end" -> floorEnd._1,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> loadAvg(),
      // CPU time the host withheld from this machine during the run, as a
      // share of all its CPUs' time: a contended run identifies itself
      "steal_pct" -> (stealTicks() - stealStart) * 10.0 / (Main.msSince(stealT0) * cpus) * 100)
    val floorMs = Stats.median(floorStart._2 ++ floorEnd._2)

    val e2e = Seq(
      ("latency_p50_ms", "ms", out.latencyMs),
      ("records_per_s", "1/s", out.recordsPerS),
      ("live_heap_mb", "MB", out.liveHeapMb),
      ("setup_s", "s", Stats.median(out.setupS)))
    val metrics: Seq[(String, String, Double)] =
      if (!traced) e2e
      else {
        val layers = out.layers ++ sparkLayers(tracer, out, floorMs)
        PerLayer.map { case (n, u) => (n, u, layers.getOrElse(n, 0.0)) }
      }
    val traceFile = if (traced) {
      val p = work.getParent.resolve("traces").resolve(s"$workload-seed$seed.json")
      tracer.write(p)
      Some(p.toString)
    } else None
    tracer.close()

    val correct = out.problems.isEmpty
    println(Stats.json(Map("report" -> (Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "window_s" -> out.windowMs / 1000, "setup_s_each" -> out.setupS,
      "e2e" -> e2e.map { case (n, _, v) => n -> v }.toMap,
      "env" -> env, "problems" -> out.problems, "trace_file" -> traceFile,
      "self_time_ms" -> (if (traced) tracer.summary() else Map.empty)) ++ out.report))))
    println(Stats.json(Map(
      "correct" -> correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    spark.stop()
    deleteRecursively(work)
    sys.exit(if (correct) 0 else 1)
  }

  /** Spark-wide layer metrics over the measured window. */
  private def sparkLayers(tr: Tracer, out: Outcome, floorMs: Double): Map[String, Double] = {
    val t0 = out.windowStartMs
    val t1 = t0 + out.windowMs
    val js = tr.jobsBetween(t0, t1)
    Map(
      "spark.job_floor_ms" -> floorMs,
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.exec_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.exec_run_s" -> js.map(_.runMs).sum / 1e3,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWriteB).sum / 1048576.0,
      "spark.spill_mb" -> js.map(_.spillB).sum / 1048576.0,
      "spark.plan_ms" -> tr.plansBetween(t0, t1).map(_.planMs).sum,
      "spark.floor_share" -> js.size * floorMs / out.windowMs)
  }

  /** Scheduler floor: p50 wall of a trivial one-task job, with its samples. */
  def jobFloor(spark: SparkSession): (Double, Seq[Double]) = {
    val sc = spark.sparkContext
    (1 to 3).foreach(_ => sc.parallelize(Seq(1), 1).count())
    val xs = (1 to 15).map { _ =>
      val t = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t) / 1e6
    }
    (Stats.median(xs), xs)
  }

  /** Used heap after a full collection, in MiB: the least of three
    * collections a moment apart, so that garbage the driver's background
    * threads allocate in between does not count. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Cumulative steal time of all CPUs, in 10 ms ticks (/proc/stat). */
  def stealTicks(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong
    catch { case _: Exception => 0L }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").head.toDouble
    catch { case _: Exception => -1.0 }

  /** Closed-loop set-up timing: run `setup` `n` times, keep the last result. */
  def timedSetups[S](n: Int)(setup: Int => S): (S, Seq[Double]) = {
    var last: Option[S] = None
    val times = (0 until n).map { i =>
      val t = System.nanoTime()
      last = Some(setup(i))
      (System.nanoTime() - t) / 1e9
    }
    (last.get, times)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  /** Regular files under `dir`, as paths relative to it (none if absent). */
  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        val out = Seq.newBuilder[Path]
        s.filter(Files.isRegularFile(_)).forEach(f => out += p.relativize(f))
        out.result()
      } finally s.close()
    }
  }

  /** Total size of the regular files under `dir`. */
  def dirBytes(dir: String): Long = files(dir).map(f => Files.size(Paths.get(dir).resolve(f))).sum

  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
