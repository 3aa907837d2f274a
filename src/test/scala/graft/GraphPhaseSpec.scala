package graft

import graft.pipeline.{Graphs, StageTimers}

/** Connected components time pair generation (the gate count that fills
  * the pair pin) and labelling as two StageTimers phases — at no job
  * cost outside a capture. */
class GraphPhaseSpec extends SparkSpec {
  import spark.implicits._

  private def pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 6L)).toDF("id_a", "id_b")

  // (localEdgeCutoff, jobs per call): the driver union-find tier and the
  // forced distributed tier; the phases leave these counts unchanged
  private val tiers = Seq(1000000L -> 3, 0L -> 31)

  test("under capture, both tiers tag their jobs with both CC phases") {
    tiers.foreach { case (cutoff, _) =>
      val ((_, walls), js) = JobStats.measure(spark.sparkContext) {
        StageTimers.capture(
          Graphs.connectedComponents(pairs, localEdgeCutoff = cutoff).collect())
      }
      assert(walls.keySet == Set("cc_pairgen", "cc_label"), walls)
      val jobs = js.perPhase.map { case (p, w) => p -> w.jobs }.toMap
      assert(jobs.getOrElse("cc_pairgen", 0) > 0 && jobs.getOrElse("cc_label", 0) > 0, js)
    }
  }

  test("with capture off, the phases add no job") {
    tiers.foreach { case (cutoff, parentJobs) =>
      val (_, js) = JobStats.measure(spark.sparkContext)(
        Graphs.connectedComponents(pairs, localEdgeCutoff = cutoff).collect())
      assert(js.jobs == parentJobs, js)
    }
  }
}
