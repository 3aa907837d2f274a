package graft.tools

import graft.{JobStats, Sessions, SparkEntry}
import graft.pipeline.StageTimers

/** Dev probe: time named SparkEntry queries at a given sf dir.
  *
  * {{{ sbt "runMain graft.tools.TimeQuery <sfDir> dup_clusters curate_pipeline" }}}
  *
  * Runs each query twice (warm-up + timed, same protocol as [[graft.Bench]])
  * against the noop sink and prints one
  * `== name sec rows jobs tasks taskrun cpu gc` line per query. A composed
  * query that times [[StageTimers]] phases also prints each phase's wall
  * (`== name <phase>=<sec>…`; phases nest, so they do not sum to the
  * total) and its driver jobs per phase (`== name jobs <phase>=<jobs>…`,
  * `-` = jobs outside any phase).
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
      def run(): Unit = fn(spark, dir).write.format("noop").mode("overwrite").save()
      run()
      val ((sec, stages), js) = JobStats.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        val (_, st) = StageTimers.capture(run())
        ((System.nanoTime() - t0) / 1e9, st)
      }
      val rows = fn(spark, dir).count()
      println(f"== $name%-24s $sec%8.3f sec  $rows%d rows  ${js.jobs}%d jobs  " +
        f"${js.tasks}%d tasks  taskrun ${js.runMs / 1e3}%.2fs  " +
        f"cpu ${js.cpuNs / 1e9}%.2fs  gc ${js.gcMs / 1e3}%.2fs")
      if (stages.nonEmpty) {
        println(s"== $name " + stages.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        println(s"== $name jobs " + js.perPhase
          .map { case (p, c) => s"${if (p.isEmpty) "-" else p}=$c" }.mkString(" "))
      }
    }
    spark.stop()
  }
}
