package graft.core.log

import org.apache.spark.sql.{Row, SparkSession}
import graft.core.{Memo, MetaTable, Schemas}
import graft.core.catalog.Warehouse

/** The per-file offset index, one directory per topic.
  *
  * File-granularity analog of the reference's offset→byte-offset index
  * (reference: src/main/java/server/internal/storage/IndexEntries.java:17-53,
  * lookup at LogSegment.java:286-300). One row per committed Parquet file:
  * `(topic, partition, file, base_offset, end_offset, count, batch_id)`.
  * Readers prune to the files whose [base_offset, end_offset] intersects the
  * requested range — the distributed analog of `RandomAccessFile.seek`.
  *
  * Unlike the reference — where only the ACTIVE segment is readable
  * (SURVEY.md §2.7 Q2, Log.java:109-115 never consults rolled segments) —
  * this index spans every committed file, which is the intent the reference's
  * own tests assume.
  *
  * The index is a [[graft.core.MetaTable]]: each append lands one small
  * delta file ([[appendDelta]]), and [[compactIndex]] periodically folds a
  * topic's rows into one snapshot file so neither the reload nor the
  * staleness fingerprint ever walks an unbounded file list. A snapshot is
  * one file renamed in, so a crash at any point leaves a readable index.
  * All rewrites require the topic lock.
  *
  * The rows are loaded once and pruned in-driver — the in-memory analog of
  * the reference's per-segment index map (IndexEntries.java:17-26, consulted
  * on every fetch at LogSegment.java:286-300) — so every `poll` is a single
  * Spark job over just the matching files. The loaded entries are a
  * [[graft.core.Memo]] stamped with the index directory's listing: one
  * cheap listing per read instead of a reload.
  */
object LogIndex {

  /** One index row; the topic is the directory's. */
  final case class Entry(
      partition: Int, file: String, baseOffset: Long, endOffset: Long,
      count: Long, batchId: Option[Long] = None) {
    /** High-watermark tombstones ([[HwmFile]]) carry offsets but reference
      * no data file. */
    def isData: Boolean = count > 0
  }

  /** Synthetic row marking a partition's high-watermark after retention
    * removed its LAST data file: `count == 0`, `end_offset` = last committed
    * offset, `base_offset = end_offset + 1` (empty range). Keeps the next
    * append monotonic instead of restarting the partition at offset 0 —
    * the log-end offset outlives its segments, as in the reference/Kafka. */
  val HwmFile = "__hwm__"

  def hwm(partition: Int, lastOffset: Long): Entry =
    Entry(partition, HwmFile, lastOffset + 1, lastOffset, 0L)

  /** Entries of one topic, reloaded only when the topic's index dir changed
    * (per-topic dir: the listing is a handful of files, bounded by the
    * writer's auto-compaction). `spark` is unused: the reload is a
    * driver-side read. */
  def entries(spark: SparkSession, wh: Warehouse, topic: String): Array[Entry] = {
    val dir = wh.indexDir(topic)
    Memo("log.index", dir, Memo.listing(dir)) {
      MetaTable.read(dir, Schemas.index).map(r =>
        Entry(r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getLong(6))))
    }
  }

  /** Whether `batchId` already landed rows — optionally scoped to a
    * partition set. The scope matters for declared-partition appends: their
    * idempotence check runs under only their own partitions' locks, so it
    * must also LOOK at only those partitions (a same-batchId append to a
    * disjoint set is a different unit of work, and its rows — which may
    * commit concurrently — must not mask this one's replay detection). */
  def hasBatch(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      batchId: Long,
      partitions: Option[Seq[Int]] = None): Boolean =
    entries(spark, wh, topic).exists { e =>
      e.batchId.contains(batchId) && partitions.forall(_.contains(e.partition))
    }

  /** A partition's first readable offset (rises as retention expires whole
    * files) and next offset to assign; equal when nothing is readable. */
  final case class Bounds(first: Long, next: Long)

  /** Per partition of one index snapshot, its [[Bounds]]. `next` is the
    * analog of initializing `Partition.currentOffset` from
    * `log.getLogEndOffset()` (reference:
    * src/main/java/server/internal/storage/Partition.java:18).
    * High-watermark tombstones participate: a fully-expired partition
    * keeps its end offset and begins there. */
  def bounds(entries: Array[Entry]): Map[Int, Bounds] =
    entries.groupBy(_.partition).map { case (p, es) =>
      val next = es.map(_.endOffset).max + 1L
      val data = es.filter(_.isData)
      p -> Bounds(if (data.isEmpty) next else data.map(_.baseOffset).min, next)
    }

  /** The fetch rule every consumer reads by: per partition of `bounds`,
    * the next fetch's `[start, end)`. It starts at the position in `from`,
    * or at the first readable offset if the position is below it or absent
    * — Kafka's reset to earliest, so no consumer stalls on expired offsets —
    * and spans at most `max` offsets, never past `next`. */
  def fetchRanges(
      bounds: Map[Int, Bounds], from: Map[Int, Long], max: Long): Map[Int, (Long, Long)] =
    bounds.map { case (p, b) =>
      val start = math.max(from.getOrElse(p, 0L), b.first)
      // saturating: start + max overflows at the default Long.MaxValue
      p -> (start, math.max(start, if (b.next - start > max) start + max else b.next))
    }

  /** Next offset to assign, per partition ([[Bounds]]`.next`). */
  def nextOffsets(spark: SparkSession, wh: Warehouse, topic: String): Map[Int, Long] =
    bounds(entries(spark, wh, topic)).map { case (p, b) => p -> b.next }

  def invalidate(wh: Warehouse, topic: String): Unit =
    Memo.invalidate(wh.indexDir(topic))

  /** Land one append's rows as one delta file. Concurrent appends to
    * disjoint partition sets land their deltas independently. */
  private[log] def appendDelta(wh: Warehouse, topic: String, rows: Seq[Entry]): Unit = {
    MetaTable.append(wh.indexDir(topic), Schemas.index, rows.map(toRow(topic, _)))
    invalidate(wh, topic)
  }

  /** Replace a topic's index rows wholesale with one snapshot
    * ([[graft.core.MetaTable.replace]]): unlocked readers see the old rows
    * or the new ones, never a gap. CALLERS MUST HOLD THE TOPIC LOCK — the
    * snapshot covers only the deltas its caller read, and deletes every
    * delta it listed. */
  private[graft] def replace(wh: Warehouse, topic: String, rows: Seq[Entry]): Unit = {
    MetaTable.replace(wh.indexDir(topic), Schemas.index, rows.map(toRow(topic, _)))
    invalidate(wh, topic)
  }

  /** Fold a topic's index into a single snapshot file. Bounds the reload and
    * fingerprint cost of the index however many appends have run — the
    * index is a log, so it gets compacted like one. Requires the topic
    * lock. */
  private[graft] def compactIndex(spark: SparkSession, wh: Warehouse, topic: String): Unit =
    replace(wh, topic, entries(spark, wh, topic).toSeq)

  private def toRow(topic: String, e: Entry): Row =
    Row(topic, e.partition, e.file, e.baseOffset, e.endOffset, e.count,
      e.batchId.map(Long.box).orNull)
}
