package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.core.catalog.Warehouse
import graft.core.groups.ConsumerGroup

/** The consumer side shared by the consuming workloads: one poll →
  * materialize → commit step of a group member, the delivery bookkeeping,
  * and the consumer layers' per-layer metrics. */
object Consume {

  /** Offsets returned so far, per partition, as disjoint sorted runs. */
  final class Coverage(partitions: Int) {
    private val runs = Array.fill(partitions)(ArrayBuffer.empty[(Long, Long)])

    /** Merge [a, b] into partition `p`; returns how many of its offsets had
      * been returned before. */
    def cover(p: Int, a: Long, b: Long): Long = {
      val rs = runs(p)
      val dup = rs.map { case (lo, hi) => math.max(0L, math.min(hi, b) - math.max(lo, a) + 1) }.sum
      val (touch, keep) = rs.partition { case (lo, hi) => lo <= b + 1 && hi >= a - 1 }
      val merged = (touch :+ ((a, b))).reduce((x, y) => (math.min(x._1, y._1), math.max(x._2, y._2)))
      rs.clear()
      rs ++= (keep :+ merged).sortBy(_._1)
      dup
    }

    /** Merge a poll's (partition, offset) rows; returns the duplicates. */
    def add(rows: Array[Row]): Long =
      rows.groupBy(_.getInt(0)).map { case (p, rs) =>
        val offs = rs.map(_.getLong(1)).sorted
        var dup = 0L
        var start = offs(0)
        var prev = offs(0)
        offs.iterator.drop(1).foreach { o =>
          if (o == prev) dup += 1
          else if (o != prev + 1) { dup += cover(p, start, prev); start = o }
          prev = o
        }
        dup + cover(p, start, prev)
      }.sum

    def isCovered(p: Int, lo: Long, hi: Long): Boolean =
      runs(p).exists { case (a, b) => a <= lo && b >= hi }

    /** End (exclusive) of the run of offsets returned from 0 on. */
    def prefixEnd(p: Int): Long =
      runs(p).headOption.filter(_._1 == 0).map(_._2 + 1).getOrElse(0L)
  }

  /** One `ConsumerGroup.poll` with its records materialized: `ms` is the
    * call plus the materialization, `files` the polled frame's input files
    * (traced runs only, outside `ms`). */
  final case class Polled(rows: Array[Row], next: Map[Int, Long], ms: Double, files: Double)

  def poll(
      ctx: Ctx, wh: Warehouse, group: String, m: ConsumerGroup.Membership, topic: String,
      max: Long): Polled = {
    val tr = ctx.tracer
    val t = System.nanoTime()
    val (df, next) = tr.span("groups.poll") {
      ConsumerGroup.poll(ctx.spark, wh, group, m, topic, max)
    }
    val callMs = Main.msSince(t)
    val files = if (tr.enabled) df.inputFiles.length.toDouble else 0.0
    val t2 = System.nanoTime()
    val rows = tr.span("log.poll.read") {
      df.select(col("partition"), col("offset"), col("key"), col("value")).collect()
    }
    Polled(rows, next, callMs + Main.msSince(t2), files)
  }

  /** Commit the next offsets a poll returned, exactly as returned. */
  def commit(ctx: Ctx, wh: Warehouse, group: String, topic: String, next: Map[Int, Long]): Double = {
    val t = System.nanoTime()
    ctx.tracer.span("groups.commit") { ConsumerGroup.commit(ctx.spark, wh, group, topic, next) }
    Main.msSince(t)
  }

  /** Commit files in a group's offsets shard (`_groups/offsets/<group>`). */
  def offsetFiles(wh: Warehouse, group: String): Int =
    Option(new java.io.File(s"${wh.root}/_groups/offsets/$group").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  /** `log.poll.*` and `groups.*` over the run's poll, read and commit spans. */
  def layers(
      tr: Tracer, polls: Long, filesPerPoll: Seq[Double],
      offsetFiles: Double): Map[String, Double] = {
    val pollSpans = tr.spansNamed("groups.poll")
    val readSpans = tr.spansNamed("log.poll.read")
    val commitSpans = tr.spansNamed("groups.commit")
    val nonEmptyReads = readSpans.filter(s => tr.jobsOf(Seq(s)).exists(_.tasks > 0))
    // the log read runs at materialization, so the jobs inside the poll
    // call are the committed-offsets read's; a group's first poll, before
    // any commit, reads none
    val committedJobMs = pollSpans.map(Layers.jobCoveredMs(tr, _)).filter(_ > 0)
    Map(
      "log.poll.calls" -> polls.toDouble,
      "log.poll.read_ms_p50" -> Stats.pctOr0(nonEmptyReads.map(_.durMs), 0.5),
      "log.poll.jobs_per_call" -> tr.jobsOf(pollSpans ++ readSpans).size.toDouble / polls.max(1),
      "log.poll.files_per_call" -> Stats.mean(filesPerPoll),
      "groups.poll_call_ms_p50" -> Stats.pctOr0(pollSpans.map(_.durMs), 0.5),
      "groups.committed_job_ms_p50" -> Stats.pctOr0(committedJobMs, 0.5),
      "groups.commit_jobs_per_call" -> tr.jobsOf(commitSpans).size.toDouble / commitSpans.size.max(1),
      "groups.offset_files" -> offsetFiles)
  }
}
