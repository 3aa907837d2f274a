package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogReader, LogRetention, LogWriter}

/** Long-run soak of the TOPIC-LOG lifecycle — the storage-side sibling of
  * [[IndexSoak]] (which covers the dedup-index delta tail): `batches`
  * appends against one standing topic interleaved with the three
  * maintenance operations ([[LogRetention.expireOlderThan]] time
  * retention, [[LogRetention.compact]] latest-per-key rewrites,
  * [[LogRetention.vacuum]] orphan collection), each proven per-feature in
  * specs but never run together for hundreds of cycles. Asserts:
  *
  *   - FILE COUNTS STAY BOUNDED: appends add one file per partition per
  *     batch; retention drops whole files behind the time window and
  *     compaction collapses survivors, so the live file count never
  *     exceeds partitions × (retention window + expiry period + slack).
  *   - VACUUM NEVER EATS LIVE DATA: in a healthy run every vacuum returns
  *     empty and the scan count is unchanged across it.
  *   - SURVIVORS ARE ORACLE-EXACT: batches write a rotating third of the
  *     key space with deterministic logical timestamps, so the final
  *     compacted topic must hold EXACTLY one record per key, valued by
  *     the key's last writing batch — computable in closed form, no
  *     reference state carried between JVMs.
  *   - APPEND WALL STAYS FLAT: late-third median ≤ 1.5× early-third
  *     (index growth, file listing, or lock-dir accumulation would all
  *     surface here).
  *
  * Crash leg (`haltAt` ≥ 0): plants crash debris — the unindexed data
  * file in a live partition dir that an append dying between its segment
  * write and its index-delta write leaves, plus a `.staging-*` dir
  * standing for an older version's staging debris — then
  * `Runtime.halt`s. A second invocation over the SAME state dir replays
  * that batch and continues; its first
  * vacuum must remove exactly the debris while every scan stays intact,
  * and the final oracle must still hold (replayed appends duplicate
  * records at higher offsets; compaction's max-offset-per-key rule makes
  * the replay invisible to the survivor set).
  *
  * {{{ runMain graft.tools.LogSoak <stateDir> <batches> [startBatch] [haltAt] }}}
  * Writes one JSON line (and LOG_SOAK.json when a startBatch == 0 run
  * finishes without a halt). */
object LogSoak {

  private val Topic = "soak"
  private val Parts = 4
  private val Keys = 500
  private val Stride = 3 // each key written every 3rd batch
  private val RetentionBatches = 20
  private val ExpireEvery = 4
  private val CompactEvery = 16
  private val T0 = 1700000000000L

  private def dataFileCount(dir: java.io.File): Int =
    if (!dir.isDirectory) 0
    else dir.listFiles().toSeq.map { f =>
      if (f.isDirectory) dataFileCount(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
      else 1
    }.sum

  def main(args: Array[String]): Unit = {
    val stateDir = args(0)
    val batches = args.lift(1).map(_.toInt).getOrElse(100)
    val startBatch = args.lift(2).map(_.toInt).getOrElse(0)
    val haltAt = args.lift(3).map(_.toInt).getOrElse(-1)
    val spark = Sessions.local("graft-log-soak")

    val wh = Warehouse(stateDir)
    if (startBatch == 0) TopicCatalog.createTopic(spark, wh, Topic, Parts)
    val logDir = new java.io.File(wh.logDir(Topic))

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var maxFiles = 0
    var vacuumedLive = 0 // files a mid-run vacuum removed in a HEALTHY run
    var debrisRemoved = 0 // crash-leg debris the post-restart vacuum collected
    for (b <- startBatch until batches) {
      val batch = spark.range(0, Keys.toLong)
        .filter((col("id") + lit(b.toLong)) % Stride === 0)
        .select(
          (col("id") + lit(b.toLong * Keys)).as("ord"),
          lit(T0 + b.toLong * 1000L).as("ts"),
          concat(lit("k"), col("id")).as("key"),
          concat(lit(s"$b:"), col("id")).as("value"))
      val t0 = System.nanoTime()
      LogWriter.append(spark, wh, Topic, batch, "ord")
      if (haltAt == b) {
        // crash-append debris: an unindexed data file in a live partition
        // dir (copied from a real segment so it parses) + an older
        // version's staging dir
        val p0 = new java.io.File(logDir, "partition=0")
        val seg = p0.listFiles().filter(f =>
          f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .head
        java.nio.file.Files.copy(seg.toPath,
          new java.io.File(p0, s"orphan-${b}.parquet").toPath)
        java.nio.file.Files.createDirectories(
          new java.io.File(logDir, ".staging-dead").toPath)
        System.out.flush()
        Runtime.getRuntime.halt(137)
      }
      if (b > 0 && b % ExpireEvery == 0)
        LogRetention.expireOlderThan(spark, wh, Topic,
          RetentionBatches.toLong * 1000L, nowMs = T0 + b.toLong * 1000L)
      if (b > 0 && b % CompactEvery == 0) LogRetention.compact(spark, wh, Topic)
      if (b % 10 == 5 || (startBatch > 0 && b == startBatch)) {
        // vacuum must never touch live data; the only deletions allowed
        // are the crash leg's planted debris, on the restart's first pass
        val before = LogReader.scan(spark, wh, Topic).count()
        val vac = LogRetention.vacuum(spark, wh, Topic)
        val after = LogReader.scan(spark, wh, Topic).count()
        if (startBatch > 0 && b == startBatch) debrisRemoved += vac.size
        else vacuumedLive += vac.size
        require(before == after,
          s"vacuum changed the scan: $before -> $after at batch $b")
      }
      walls += (System.nanoTime() - t0) / 1e9
      val files = dataFileCount(logDir)
      maxFiles = math.max(maxFiles, files)
      if (b % 10 == 0)
        println(f"== logsoak batch=$b wall=${walls.last}%.2f files=$files")
    }

    // final maintenance + closed-form oracle: one record per key, valued
    // by the key's last writing batch
    LogRetention.compact(spark, wh, Topic)
    LogRetention.vacuum(spark, wh, Topic)
    // integrity audit of the whole lifecycle's end state (deep: per-file
    // on-disk counts vs index) — the detection surface for the
    // ignoreMissingFiles tradeoff, run where expiry/compaction/vacuum/
    // crash-debris all interleaved
    val integrity = graft.core.admin.Admin.verifyTopic(
      spark, wh, Topic, deep = true)
    if (!integrity.ok) System.err.println(s"== integrity: ${integrity.summary}")
    val gotRows = LogReader.scan(spark, wh, Topic)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val got = gotRows.toMap
    def lastWriter(k: Long): Long =
      ((batches - 1).to(0, -1)).find(b => (b + k) % Stride == 0).get.toLong
    val expected = (0L until Keys.toLong)
      .map(k => (s"k$k", s"${lastWriter(k)}:$k")).toMap
    // row-count check first: a compaction bug duplicating keys would
    // collapse silently in the Map compare
    val oracleOk = gotRows.length == Keys && got == expected
    val finalFiles = dataFileCount(logDir)
    val third = math.max(1, walls.size / 3)
    def median(xs: scala.collection.Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val early = median(walls.take(third))
    val late = median(walls.takeRight(third))
    val bound = Parts * (RetentionBatches + ExpireEvery + 6)
    val ok = oracleOk && integrity.ok && maxFiles <= bound && vacuumedLive == 0 &&
      late <= 1.5 * early &&
      // the restart leg must have collected BOTH planted debris items
      // (orphan segment + staging dir) on its first vacuum
      (startBatch == 0 || debrisRemoved >= 2)
    val json =
      s"""{"metric":"log_soak","batches":${walls.size},"start":$startBatch,""" +
        f""""early_median_sec":$early%.3f,"late_median_sec":$late%.3f,""" +
        s""""max_files":$maxFiles,"final_files":$finalFiles,"file_bound":$bound,""" +
        s""""rows":${got.size},"expected_rows":${expected.size},""" +
        s""""oracle_ok":$oracleOk,"integrity_ok":${integrity.ok},""" +
        s""""vacuumed_live":$vacuumedLive,""" +
        s""""debris_removed":$debrisRemoved,"ok":$ok}"""
    if (startBatch == 0 && haltAt < 0)
      java.nio.file.Files.write(java.nio.file.Paths.get("LOG_SOAK.json"),
        (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json)
    if (!ok) sys.exit(1)
  }
}
