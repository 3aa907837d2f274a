package graft.tools

import graft.{JobStats, Sessions, SparkEntry}

/** Dev probe: time named SparkEntry queries at a given sf dir.
  *
  * {{{ sbt "runMain graft.tools.TimeQuery /root/testdata/sf0.1 dup_clusters tfidf_topk" }}}
  *
  * Runs each query twice (warm-up + timed, same protocol as [[graft.Bench]])
  * against the noop sink and prints one
  * `== name sec rows jobs tasks taskrun cpu gc` line per query.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    val spark = Sessions.local("graft-time-query")
    // wall-clock on this box swings 2x with host scheduling weather (see
    // JobLatency), but the JOB COUNT of a fixed query is deterministic —
    // the honest metric when grinding driver round-trips out of a composed
    // chain. Summed executor run time (occupied core-time), CPU and GC are
    // the metrics that SHOW a cache-vs-recompute win (job/task counts stay
    // flat when the same stages run cheaper) and that attribute the
    // 8-vs-32-core inversion (GC share, per-task time inflation).
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val (sec, js) = JobStats.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rows = fn(spark, dir).count()
      println(f"== $name%-24s $sec%8.3f sec  $rows%d rows  ${js.jobs}%d jobs  " +
        f"${js.tasks}%d tasks  taskrun ${js.runMs / 1e3}%.2fs  " +
        f"cpu ${js.cpuNs / 1e9}%.2fs  gc ${js.gcMs / 1e3}%.2fs")
    }
    spark.stop()
  }
}
