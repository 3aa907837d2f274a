package graft.core.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fs, Schemas}
import graft.core.catalog.{TopicCatalog, Warehouse}

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
  * The index is itself a log: each append lands one small delta file, and
  * [[compactIndex]] periodically rewrites a topic's rows into one file so
  * neither the reload nor the staleness fingerprint ever walks an unbounded
  * file list. Rewrites use a write-tmp → delete-live → rename protocol whose
  * crash window (live missing, tmp complete) is closed by [[heal]] on the
  * next read. All rewrites require the topic lock.
  */
object LogIndex {

  /** Synthetic row marking a partition's high-watermark after retention
    * removed its LAST data file: `count == 0`, `end_offset` = last committed
    * offset, `base_offset = end_offset + 1` (empty range). Keeps the next
    * append monotonic instead of restarting the partition at offset 0 —
    * the log-end offset outlives its segments, as in the reference/Kafka. */
  val HwmFile = "__hwm__"

  def hwmRow(topic: String, partition: Int, lastOffset: Long): Row =
    Row(topic, partition, HwmFile, lastOffset + 1, lastOffset, 0L, null)

  /** Finish a crashed [[replace]] — [[graft.core.Swap.heal]] over the
    * topic's index dir, called on every read path. */
  private[graft] def heal(wh: Warehouse, topic: String): Unit = {
    val dir = wh.indexDir(topic)
    graft.core.Swap.heal(Fs(dir), dir)
  }

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), Schemas.index)

  def forTopic(spark: SparkSession, wh: Warehouse, topic: String): DataFrame = {
    heal(wh, topic)
    val dir = wh.indexDir(topic)
    if (TopicCatalog.dirExists(dir)) spark.read.schema(Schemas.index).parquet(dir)
    else empty(spark)
  }

  /** Every topic's index rows — diagnostics surface; hot paths read per
    * topic. */
  def all(spark: SparkSession, wh: Warehouse): DataFrame = {
    val topics = Fs.list(new Path(wh.indexBase))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => // swap staging/aside dirs are never topics
        graft.core.Swap.isStagingName(n) || n.startsWith("."))
    topics.map(forTopic(spark, wh, _))
      .reduceOption(_ union _)
      .getOrElse(empty(spark))
  }

  /** Next offset to assign, per partition — the analog of initializing
    * `Partition.currentOffset` from `log.getLogEndOffset()`
    * (reference: src/main/java/server/internal/storage/Partition.java:18).
    * High-watermark tombstones participate: a fully-expired partition keeps
    * its end offset. */
  def nextOffsets(idx: DataFrame): Map[Int, Long] =
    idx.groupBy(col("partition"))
      .agg(max("end_offset").as("end"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1) + 1L))
      .toMap

  /** Whether `batchId` already landed rows — optionally scoped to a
    * partition set. The scope matters for declared-partition appends: their
    * idempotence check runs under only their own partitions' locks, so it
    * must also LOOK at only those partitions (a same-batchId append to a
    * disjoint set is a different unit of work, and its rows — which may
    * commit concurrently — must not mask this one's replay detection). */
  def hasBatch(idx: DataFrame, batchId: Long, partitions: Option[Seq[Int]] = None): Boolean = {
    val scoped = partitions match {
      case Some(ps) => idx.filter(col("partition").isInCollection(ps))
      case None => idx
    }
    scoped.filter(col("batch_id") === batchId).limit(1).count() > 0
  }

  /** Committed end offset (exclusive) per partition of a topic. */
  def endOffsets(spark: SparkSession, wh: Warehouse, topic: String): Map[Int, Long] =
    nextOffsets(forTopic(spark, wh, topic))

  /** Replace a topic's index rows wholesale. The new rows are materialized
    * into the rewrite dir BEFORE the live dir is touched (the write action
    * forces the read), so the swap never reads what it is deleting. The
    * swap itself is rename-aside → rename-in → delete-aside: unlocked
    * READERS see a missing index only between the two renames (two metadata
    * ops), never for the duration of a recursive delete — at millions of
    * segments that delete is long, and "index briefly empty" would read as
    * "topic empty". Crash between the renames is repaired by [[heal]];
    * leftover `_old`/`_rewrite` dirs are cleared by the next replace.
    * CALLERS MUST HOLD THE TOPIC LOCK — the swap is not atomic against a
    * concurrent append's delta write (its rows would land in the doomed
    * live dir and be lost). */
  private[graft] def replace(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      rows: DataFrame): Unit = {
    val dir = wh.indexDir(topic)
    rows.coalesce(1).write.mode("overwrite").parquet(graft.core.Swap.rewriteDir(dir))
    graft.core.Swap.install(Fs(dir), dir)
    IndexCache.invalidate(wh, topic)
  }

  /** Rewrite a topic's index into a single file. Bounds the reload and
    * fingerprint cost of the index however many appends have run — the
    * index is a log, so it gets compacted like one. Requires the topic
    * lock. */
  private[graft] def compactIndex(spark: SparkSession, wh: Warehouse, topic: String): Unit =
    replace(spark, wh, topic, forTopic(spark, wh, topic))
}
