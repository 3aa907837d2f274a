package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.pipeline.{IndexMaintenance, LshIndex}

/** Long-run soak of the LSM delta-tail + scheduled-compaction lifecycle
  * (round 13/14 features proven per-batch, never over a long run):
  * `batches` micro-batches of NOVEL documents flow through
  * [[LshIndex.ingestBatch]] against one standing index, compacting every
  * `compactEvery` batches (the [[graft.streaming.Curation.runBatch]]
  * maintenance policy). Asserts the two 100-TB lifecycle claims:
  *
  *   - FILE COUNTS STAY BOUNDED: between compactions the tail grows one
  *     file per table per batch; after each compaction every shard
  *     directory is back to one file and the tail is empty — so the
  *     steady-state file count never exceeds shards + 2·compactEvery.
  *   - PROBE TIME STAYS FLAT: per-batch ingest wall in the last third
  *     must not drift above ~1.5× the median of the first third (file
  *     accumulation, schema re-inference, or listing growth would all
  *     show up here).
  *
  * Crash leg (`haltAt` ≥ 0): the JVM `Runtime.halt`s right after batch
  * `haltAt`'s index append — the worst spot, survivors appended but the
  * batch "commit" (here: the caller's sink) never ran. A second soak
  * invocation over the SAME state dir replays that batch and continues;
  * replayed appends duplicate rows, and the run asserts the next
  * compaction CONVERGES the index back to exactly one row per id
  * (compaction doubles as replay garbage collection — the
  * IndexMaintenance crash contract).
  *
  * {{{ runMain graft.tools.IndexSoak <stateDir> <sfDir> <batches> [startBatch] [haltAt] [compactEvery] }}}
  * Writes one JSON line (and SOAK.json when startBatch == 0 finishes). */
object IndexSoak {

  private def dataFileCount(dir: java.io.File): Int =
    if (!dir.isDirectory) 0
    else dir.listFiles().toSeq.map { f =>
      if (f.isDirectory) dataFileCount(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
      else 1
    }.sum

  def main(args: Array[String]): Unit = {
    val stateDir = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val batches = args.lift(2).map(_.toInt).getOrElse(100)
    val startBatch = args.lift(3).map(_.toInt).getOrElse(0)
    val haltAt = args.lift(4).map(_.toInt).getOrElse(-1)
    val compactEvery = args.lift(5).map(_.toInt).getOrElse(8)
    val spark = Sessions.local("graft-index-soak")
    import spark.implicits._

    val path = s"$stateDir/lsh"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").persist()
    docs.count()
    if (startBatch == 0)
      LshIndex.build(docs.limit(1), $"doc_id", $"text", path,
        shingleSize = 5, numHashes = 128, bands = 16)

    def tailFiles: Int =
      IndexMaintenance.deltaFiles(spark, s"$path/buckets").size +
        IndexMaintenance.deltaFiles(spark, s"$path/shingles").size
    def baseFiles: Int =
      dataFileCount(new java.io.File(s"$path/buckets")) +
        dataFileCount(new java.io.File(s"$path/shingles")) - tailFiles

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var maxFiles = 0
    for (b <- startBatch until batches) {
      // novel text per batch: cycle the corpus with a batch-salted suffix
      // so every batch is mostly fresh (the steady-state crawl shape)
      val batch = docs
        .filter($"doc_id" % 64 === (b % 64).toLong)
        .select(($"doc_id" + lit(b.toLong * 10000000L)).as("doc_id"),
          concat($"text", lit(s" soak$b")).as("text"))
      val t0 = System.nanoTime()
      val out = LshIndex.ingestBatch(spark, path, batch, $"doc_id", $"text")
      out.unpersist()
      if (haltAt == b) {
        // crash at the worst spot: survivors appended, sink never ran
        System.out.flush()
        Runtime.getRuntime.halt(137)
      }
      if (b > 0 && b % compactEvery == 0) LshIndex.compact(spark, path)
      walls += (System.nanoTime() - t0) / 1e9
      val files = baseFiles + tailFiles
      maxFiles = math.max(maxFiles, files)
      if (b % 10 == 0)
        println(f"== soak batch=$b wall=${walls.last}%.2f files=$files tail=$tailFiles")
    }

    // post-run compaction: converge any replayed-append duplicates
    LshIndex.compact(spark, path)
    val sh = spark.read.parquet(s"$path/shingles")
    val rows = sh.count()
    val ids = sh.select("id").distinct().count()
    val finalFiles = baseFiles + tailFiles
    val third = math.max(1, walls.size / 3)
    def median(xs: scala.collection.Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val early = median(walls.take(third))
    val late = median(walls.takeRight(third))
    // 64 shards per table, 2 tables; between compactions ≤ compactEvery
    // tail files per table accumulate
    val bound = 2 * 64 + 2 * compactEvery
    val ok = rows == ids && finalFiles <= bound && late <= 1.5 * early
    println(
      s"""{"metric":"index_soak","batches":${walls.size},"start":$startBatch,""" +
        f""""early_median_sec":$early%.3f,"late_median_sec":$late%.3f,""" +
        s""""max_files":$maxFiles,"final_files":$finalFiles,"file_bound":$bound,""" +
        s""""rows":$rows,"distinct_ids":$ids,"converged":${rows == ids},"ok":$ok}""")
    if (startBatch == 0 && haltAt < 0) {
      val json =
        s"""{"metric":"index_soak","batches":${walls.size},""" +
          f""""early_median_sec":$early%.3f,"late_median_sec":$late%.3f,""" +
          s""""max_files":$maxFiles,"final_files":$finalFiles,"file_bound":$bound,""" +
          s""""rows":$rows,"distinct_ids":$ids,"ok":$ok}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("SOAK.json"),
        (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
