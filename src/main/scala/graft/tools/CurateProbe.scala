package graft.tools

import graft.{JobStats, Sessions}
import graft.pipeline.StageTimers

/** Dev probe: one warm + N timed solo runs of a composed curate query with
  * the StageTimers action split and the driver jobs per phase printed per
  * run — aims the per-batch-overhead grind (the composed chain is ONE lazy
  * plan; these are its real wall segments, and the per-batch fixed
  * overhead is its job COUNT). Usage:
  * `runMain graft.tools.CurateProbe [sfDir] [n] [query]` (default
  * curate_pipeline). */
object CurateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = if (args.length > 1) args(1).toInt else 3
    val query = args.drop(2).headOption.getOrElse("curate_pipeline")
    val spark = Sessions.local("graft-curate-probe")
    val fn = graft.SparkEntry.queries(query)
    def once(): Unit = {
      val ((total, stages), js) = JobStats.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        val (_, st) = StageTimers.capture(fn(spark, sfDir).count())
        ((System.nanoTime() - t0) / 1e9, st)
      }
      val split = stages.toSeq.sortBy(-_._2)
        .map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")
      val rest = total - stages.values.sum
      println(f"== $query%s total=$total%.3f rest=$rest%.3f $split")
      println(s"== $query jobs=${js.jobs} " + js.perPhase
        .map { case (p, c) => s"${if (p.isEmpty) "-" else p}=$c" }.mkString(" "))
    }
    once() // warm
    (1 to n).foreach(_ => once())
    spark.stop()
  }
}
