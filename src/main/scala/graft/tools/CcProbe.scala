package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.{TextFunctions => T}
import graft.pipeline.{Dedup, Graphs}

/** Dev probe: decompose dup_clusters' wall into PAIR GENERATION vs the
  * connected-components tiers, against any documents dir (point it at a
  * ScaleStress scaled corpus to attribute the 32× growth), and stamp the
  * decomposition as CC_PROBE.json — the machine-checkable artifact behind
  * the "dup_clusters is pair-generation-bound" claim (round 16 carried
  * the numbers in README prose only).
  *
  * Stamping discipline (round 18): >= 3 timed passes per tier — the r17
  * artifact stamped `min_sec` of TWO passes whose spread was 3.2x, the
  * favorable-tail shape quietbench kills for the official bench — and
  * every tier records `median_sec` (upper-middle on even n, same rule as
  * quietbench) next to `min_sec` and the raw passes array, plus this
  * boot's trivial-job p50 so a floor-inflated run is self-identifying.
  * README claims cite the MEDIAN.
  *
  * {{{ runMain graft.tools.CcProbe <docsDir> [passes] }}} */
object CcProbe {
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Upper-middle median (even n takes the HIGHER middle — never the
    * favorable side), matching tools/quietbench.sh. */
  private def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // floor at 3: a "min of 2" is just the min (r17 advice)
    val passes = math.max(3, args.lift(1).map(_.toInt).getOrElse(3))
    val spark = Sessions.local("graft-cc-probe")
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // this boot's scheduler floor: the CC tiers run 10-40 driver jobs
    // each, so a moved floor inflates them mechanically — stamp it so the
    // artifact is self-diagnosing
    val jobP50Ms = graft.Bench.jobP50Ms(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleSize = 3, threshold = 0.8, shingler = T.wordShingles)
    val nDocs = docs.count()
    val nPairs = pairs.count()
    println(f"== docs=$nDocs%d pairs=$nPairs%d")
    val walls = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def run(tag: String)(body: => Unit): Unit = {
      body // warm
      val ts = (1 to passes).map(_ => time(body))
      walls(tag) = ts
      println(f"== $tag%-18s ${ts.map(t => f"$t%.1f").mkString(" ")} sec")
    }
    run("pairs_only") { noop(pairs) }
    run("cc_gated") { noop(Graphs.connectedComponents(pairs)) }
    run("cc_distributed") { noop(Graphs.connectedComponents(pairs, localEdgeCutoff = 0)) }
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val entries = walls.map { case (tag, ts) =>
      f""""$tag":{"median_sec":${median(ts)}%.1f,"min_sec":${ts.min}%.1f,""" +
        f""""passes":[${ts.map(t => f"$t%.1f").mkString(",")}]}"""
    }.mkString(",")
    val json =
      f"""{"metric":"cc_probe","docs":$nDocs,"pairs":$nPairs,"dir":"$dir",""" +
        f""""passes":$passes,$entries,"max_heap_mb":$maxHeapMb,""" +
        f""""job_p50_ms":$jobP50Ms%.1f,""" +
        f""""loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("CC_PROBE.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
