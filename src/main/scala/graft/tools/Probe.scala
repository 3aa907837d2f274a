package graft.tools

import graft.{Bench, JobStats, Sessions, SparkEntry}
import graft.pipeline.StageTimers

/** Dev probe: where a query's wall goes, next to this boot's scheduler
  * floor.
  *
  * {{{ sbt "runMain graft.tools.Probe <sfDir> [query...]" }}}
  *
  * First prints the floor, `== floor p50=<ms> ms` ([[Bench.jobP50Ms]]);
  * with no query that line is all it prints. Each named [[SparkEntry]]
  * query then runs a warm-up and three timed passes through Bench's noop
  * sink (three, because a median of two is the min) and prints
  * `== <query> median_s min_s rows jobs tasks cpu_s gc_s shuffle_mb
  * spill_mb plan_ms floor_s`: the upper-middle wall and the min, the
  * result's row count, and what the median pass ran ([[Bench.passStats]];
  * `floor_s` = jobs × p50 is the wall the floor alone explains).
  *
  * A query that times [[StageTimers]] phases (the curate queries;
  * `dup_clusters`' pair generation `cc_pairgen` against its labelling
  * `cc_label`) also prints `== <query> <phase> wall_s jobs tasks cpu_s
  * gc_s shuffle_mb spill_mb` per phase, `-` for the work outside any
  * phase. Phases nest: a phase's wall holds its inner phases' walls, but
  * a job counts in its innermost phase only, so the phases' jobs sum to
  * the query's and their walls do not. */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = Sessions.local("graft-probe")
    val p50 = Bench.jobP50Ms(spark)
    println(f"== floor p50=$p50%.1f ms")
    def kv(stats: Seq[(String, String)]) =
      stats.map { case (k, v) => s"$k=$v" }.mkString(" ")
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Unit = Bench.materialize(fn(spark, dir))
      run()
      val passes = Seq.fill(3) {
        JobStats.measure(spark.sparkContext)(StageTimers.capture(Bench.time(run())))
      }.sortBy { case ((sec, _), _) => sec }
      val ((sec, walls), js) = passes(passes.size / 2)
      val ((minSec, _), _) = passes.head
      val rows = fn(spark, dir).count()
      println(f"== $name median_s=$sec%.3f min_s=$minSec%.3f " +
        s"rows=$rows ${kv(Bench.passStats(js, p50))}")
      if (walls.nonEmpty) {
        val work = js.perPhase.toMap
        val phases = js.perPhase.map(_._1) ++ (walls.keySet -- work.keySet).toSeq.sorted
        phases.foreach { p =>
          val wall = walls.get(p).fold("-")(t => f"$t%.3f")
          println(s"== $name ${if (p.isEmpty) "-" else p} wall_s=$wall " +
            kv(Bench.workStats(work.getOrElse(p, JobStats.Work()))))
        }
      }
    }
    spark.stop()
  }
}
