package graft.tools

import graft.Sessions

/** Diagnostic: fixed per-job driver/scheduler overhead on this box.
  *
  * {{{ sbt "runMain graft.tools.JobLatency [nJobs] [nTasksPerJob]" }}}
  *
  * Runs `nJobs` trivial jobs (an empty-work `spark.range(n).count()` with
  * `nTasksPerJob` tasks each) after a warm-up, and prints min / median /
  * p90 per-job wall — the fixed cost every driver round-trip pays before
  * any real work. The composed-pipeline queries (curate_*, dedup
  * incremental, connected components) are driver-job-BOUND at small SF,
  * so when their wall-clock shifts between boots with no code change,
  * this number says whether the box's scheduling latency moved or the
  * plan regressed: ~5-15 ms/job is a healthy local[32]; 50 ms+ means the
  * environment, not the code, is the story.
  */
object JobLatency {
  def main(args: Array[String]): Unit = {
    val nJobs = args.headOption.map(_.toInt).getOrElse(60)
    val nTasks = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val spark = Sessions.local("graft-job-latency")
    // warm-up: classloading, codegen, scheduler pools
    (1 to 5).foreach(_ => spark.range(nTasks.toLong, nTasks.toLong + nTasks, 1, nTasks).count())
    val times = (1 to nJobs).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, nTasks.toLong, 1, nTasks).count()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    def pct(p: Double) = times(((times.size - 1) * p).toInt)
    println(f"== jobs=$nJobs tasks/job=$nTasks  " +
      f"min=${times.head}%.1f ms  p50=${pct(0.5)}%.1f ms  " +
      f"p90=${pct(0.9)}%.1f ms  max=${times.last}%.1f ms")

    // the same job WITHOUT Catalyst: a bare RDD count separates scheduler
    // dispatch (shared) from SQL planning/analysis (driver-CPU-bound) —
    // which side of the fixed cost moved decides which lever helps
    val sc = spark.sparkContext
    val rdd = sc.parallelize(0 until nTasks, nTasks)
    (1 to 5).foreach(_ => rdd.count())
    val rtimes = (1 to nJobs).map { _ =>
      val t0 = System.nanoTime()
      rdd.count()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    def rpct(p: Double) = rtimes(((rtimes.size - 1) * p).toInt)
    println(f"== rdd  jobs=$nJobs tasks/job=$nTasks  " +
      f"min=${rtimes.head}%.1f ms  p50=${rpct(0.5)}%.1f ms  " +
      f"p90=${rpct(0.9)}%.1f ms  max=${rtimes.last}%.1f ms")
    spark.stop()
  }
}
