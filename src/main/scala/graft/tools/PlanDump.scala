package graft.tools

import graft.{Sessions, SparkEntry}

/** Dump `.explain("formatted")` of named SparkEntry queries to files —
  * the before/after plan evidence for optimization rounds.
  *
  * {{{ sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <query>..." }}}
  *
  * Writes `outDir/<name>_<suffix>.txt` per query. Session is
  * [[graft.Bench]]'s ([[graft.Sessions.local]] at the default cores) so
  * the dumped plans are the plans the bench actually runs. Queries that
  * drive their own actions internally (the composed curate pipelines, the
  * eager LM scorer) still dump the plan of the frame they RETURN; their
  * per-stage evidence lives in the bench's stage split and job counts.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = Sessions.local("graft-plan-dump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { name =>
      // capture pinned internal plans too: the eager pin/release
      // operators (ngramJaccardPairs, repeatedSpanRemoval, connected
      // components) return a LogicalRDD leaf whose internals explain()
      // cannot see — the plans recorded AT pin time are the evidence
      val (plan, pinned) = graft.pipeline.PlanUtil.capturePinnedPlans {
        SparkEntry.queries(name)(spark, dir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
      }
      val full = plan + pinned.zipWithIndex.map { case (p, i) =>
        s"\n\n== Pinned internal plan ${i + 1} (recorded at pin time) ==\n$p"
      }.mkString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/${name}_$suffix.txt"), full)
      System.err.println(s"[plan] $name -> $out/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
