package graft.core.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Fs, Locks}
import graft.core.catalog.Warehouse

/** Log retention + compaction — segment lifecycle management.
  *
  * The reference rolls segments but never deletes them; retention here
  * follows the same index-first discipline as the write path: the index is
  * the source of truth, so expiry = swap in a new index without the expired
  * files, THEN delete the data files (a crash in between leaves unreferenced
  * files, never dangling references). Both operations run under the topic
  * lock — an append between the index snapshot and the swap would otherwise
  * have its freshly-committed rows erased by the swap, permanently orphaning
  * its data.
  *
  * When retention removes a partition's LAST file, a high-watermark
  * tombstone row ([[LogIndex.HwmFile]]) retains the log-end offset so the
  * next append continues monotonically instead of restarting at 0 (committed
  * consumer offsets stay valid — the reference/Kafka persist the log-end
  * offset independently of segments).
  */
object LogRetention {

  /** Drop whole files whose offset range lies entirely below the
    * per-partition watermark (offsets < keepFrom(partition)). Partial files
    * are kept — offsets stay dense and file-aligned, like Kafka's
    * segment-granularity retention. Returns the deleted files. */
  def expireBefore(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      keepFrom: Map[Int, Long]): Seq[String] =
    Locks.withTopicLock(wh, topic,
        graft.core.catalog.TopicCatalog.numPartitions(spark, wh, topic)) {
    val entries = LogIndex.entries(spark, wh, topic)
    val (drop, keep) = entries.filter(_.isData).partition(e =>
      e.endOffset < keepFrom.getOrElse(e.partition, 0L))
    if (drop.isEmpty) return Seq.empty

    // partitions losing their last data file get (or keep) a high-watermark
    // tombstone carrying max(end_offset) over everything the partition had
    val keptParts = keep.map(_.partition).toSet
    val hwms = entries.groupBy(_.partition).collect {
      case (p, es) if !keptParts.contains(p) => LogIndex.hwm(p, es.map(_.endOffset).max)
    }
    LogIndex.replace(wh, topic, keep.toSeq ++ hwms)

    drop.foreach { e =>
      val p = new Path(e.file)
      Fs(p).delete(p, false)
    }
    drop.map(_.file).toSeq
  }

  /** Time-based retention — the reference/Kafka `retention.ms` policy:
    * expire whole files whose records ALL predate `nowMs - retentionMs`.
    * The per-partition watermark is the earliest offset still inside the
    * window ([[LogReader.offsetsForTimes]] — one indexed job with the ts
    * predicate on row-group stats); a partition with nothing inside the
    * window expires everything, its high-watermark tombstone preserving the
    * log end. BOTH the watermark read and the expiry run inside the topic
    * lock (the nested [[expireBefore]] re-enters reentrantly): computing
    * watermarks outside it would let an append land between the two reads
    * and have its fresh, fully-in-window segment swept by a stale
    * "expire everything" decision. */
  def expireOlderThan(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] =
    Locks.withTopicLock(wh, topic,
        graft.core.catalog.TopicCatalog.numPartitions(spark, wh, topic)) {
      val threshold = nowMs - retentionMs
      val keepFrom = LogReader.offsetsForTimes(spark, wh, topic, threshold)
      val ends = LogIndex.nextOffsets(spark, wh, topic) // cached, no job
      val full = ends.map { case (p, end) => p -> keepFrom.getOrElse(p, end) }
      expireBefore(spark, wh, topic, full)
    }

  /** Garbage-collect a topic's UNREFERENCED storage: data files in live
    * partition dirs that no index row points to (an append or compaction
    * that died between writing its files and landing its index rows), the
    * crashed index-delta staging of `MetaTable.append`, and any dot-dir
    * in the topic dir (older versions staged appends and compactions in
    * `.staging-*` / `.compact-*` dirs there). Readers only ever see indexed
    * files, so orphans are invisible — but at 100 TB every crashed job's
    * output is real money on disk forever. Runs under the full topic lock
    * (an in-flight append's written, not-yet-indexed files must not be
    * swept: the lock guarantees no append is between those two steps).
    * Returns deleted paths. */
  def vacuum(spark: SparkSession, wh: Warehouse, topic: String): Seq[String] =
    Locks.withTopicLock(wh, topic,
        graft.core.catalog.TopicCatalog.numPartitions(spark, wh, topic)) {
      val logDir = new Path(wh.logDir(topic))
      val fs = Fs(logDir)
      if (!fs.exists(logDir)) return Seq.empty
      // crashed index-delta staging (LogIndex.appendDelta died between its
      // parquet write and the rename-in): `.delta=<topic>=<uid>` dirs under
      // the index base. `=` cannot appear in a validated topic name, so the
      // prefix match can never claim another topic's in-flight delta.
      val deltas = Fs.list(new Path(wh.indexBase)).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith(s".delta=$topic="))
      val dotDirs = Fs.list(logDir).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("."))
      val dirs = (deltas ++ dotDirs).map(_.getPath)
      val files = orphanFiles(wh, topic, LogIndex.entries(spark, wh, topic))
      dirs.foreach(fs.delete(_, true))
      files.foreach(fs.delete(_, false))
      (dirs ++ files).map(_.toString)
    }

  /** Data files in the topic's `partition=<p>/` dirs that no data row of
    * `entries` references, sorted — the crash debris [[vacuum]] deletes and
    * [[graft.core.admin.Admin.verifyTopic]] reports. `_`- and `.`-prefixed
    * names (checksum sidecars) are not data files. */
  private[graft] def orphanFiles(
      wh: Warehouse, topic: String, entries: Array[LogIndex.Entry]): Seq[Path] = {
    val indexed = entries.filter(_.isData).map(e => new Path(e.file).toUri.getPath).toSet
    Fs.list(new Path(wh.logDir(topic))).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("partition="))
      .flatMap(d => Fs.list(d.getPath).toSeq)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          !indexed.contains(f.getPath.toUri.getPath)
      }
      .map(_.getPath).sortBy(_.toString)
  }

  /** Log compaction: keep only the LATEST record per key per partition
    * (Kafka-style compacted topic), rewritten as fresh segments written in
    * place by the [[SegmentWriter]]. Offsets of surviving records are
    * preserved (compaction never reassigns offsets). The new index —
    * compacted file entries plus any surviving tombstones — lands in ONE
    * swap, which is the commit: there is no window where the topic's index
    * is empty, a crash before it leaves only unindexed files for [[vacuum]],
    * and old data files are deleted last. */
  def compact(
      spark: SparkSession,
      wh: Warehouse,
      topic: String): Unit =
    Locks.withTopicLock(wh, topic,
        graft.core.catalog.TopicCatalog.numPartitions(spark, wh, topic)) {
    val entries = LogIndex.entries(spark, wh, topic)
    val dataEntries = entries.filter(_.isData)
    if (dataEntries.isEmpty) return
    val before = LogReader.scan(spark, wh, topic)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition"), col("key"))
      .orderBy(col("offset").desc)
    val survivors = before
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // each survivor partition's rows in one task, offset-ordered: one
    // file per partition, written in place; the index swap commits them
    val rows = survivors
      .select("partition", "offset", "ts", "key", "value", "headers")
      .repartition(col("partition"))
      .sortWithinPartitions(col("partition"), col("offset"))
    val indexRows = SegmentWriter(spark, wh.logDir(topic), rows.schema).write(rows)
    // tombstones of partitions with no compacted data survive the rewrite
    val written = indexRows.map(_.partition).toSet
    val hwms = entries.filter(e => !e.isData && !written.contains(e.partition))
    LogIndex.replace(wh, topic, indexRows ++ hwms)

    dataEntries.foreach { e =>
      val p = new Path(e.file)
      Fs(p).delete(p, false)
    }
  }
}
