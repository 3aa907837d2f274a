package graft.core.log

import org.apache.spark.sql.SparkSession

/** Driver-side cache of a topic's file-offset index — the in-memory analog
  * of the reference's per-segment index map
  * (reference: src/main/java/server/internal/storage/IndexEntries.java:17-26,
  * consulted on every fetch at LogSegment.java:286-300).
  *
  * The index table is metadata-scale (one row per committed file), so
  * loading it once and pruning in-driver turns every `poll` into a single
  * Spark job over just the matching files. The entries are a
  * [[graft.core.Memo]] stamped with the index directory's listing — one
  * cheap FS listing per poll instead of a full Spark read.
  */
object IndexCache {

  final case class Entry(
      partition: Int, file: String, baseOffset: Long, endOffset: Long,
      count: Long, batchId: Option[Long] = None) {
    /** High-watermark tombstones ([[LogIndex.HwmFile]]) carry offsets but
      * reference no data file. */
    def isData: Boolean = count > 0
  }

  /** Entries of one topic, reloaded only when the topic's index dir changed
    * (per-topic dir: the listing is a handful of files, bounded by the
    * writer's auto-compaction).
    *
    * `spark` is unused since the reload became a driver-side IndexIO read
    * (r18) — kept across entries/hasBatch/nextOffsets for call-site
    * stability and because a non-local warehouse FS would need the
    * session's Hadoop conf threaded back through here (see the IndexIO
    * local-FS note). */
  def entries(
      spark: SparkSession,
      wh: graft.core.catalog.Warehouse,
      topic: String): Array[Entry] = {
    LogIndex.heal(wh, topic)
    val dir = wh.indexDir(topic)
    // driver-side parquet read (IndexIO): the reload is metadata-scale
    // and used to cost one Spark job per post-append read — a pure
    // scheduler round-trip on the hot produce path
    graft.core.Memo("log.index", dir, graft.core.Memo.listing(dir)) {
      IndexIO.readRows(dir).map(r =>
        Entry(r.partition, r.file, r.baseOffset, r.endOffset, r.count,
          r.batchId))
    }
  }

  /** Whether `batchId` already landed rows, from the cache — the replay
    * no-op check of batch-keyed appends ([[LogWriter.append]]), scoped to
    * the declared partition set exactly like [[LogIndex.hasBatch]] (whose
    * DataFrame form cost a Spark job per streaming micro-batch). */
  def hasBatch(
      spark: SparkSession,
      wh: graft.core.catalog.Warehouse,
      topic: String,
      batchId: Long,
      partitions: Option[Seq[Int]] = None): Boolean =
    entries(spark, wh, topic).exists { e =>
      e.batchId.contains(batchId) &&
        partitions.forall(_.contains(e.partition))
    }

  /** Committed next offset per partition, from the cache. */
  def nextOffsets(spark: SparkSession, wh: graft.core.catalog.Warehouse, topic: String): Map[Int, Long] =
    entries(spark, wh, topic)
      .groupBy(_.partition)
      .map { case (p, es) => p -> (es.map(_.endOffset).max + 1L) }

  def invalidate(wh: graft.core.catalog.Warehouse, topic: String): Unit =
    graft.core.Memo.invalidate(wh.indexDir(topic))
}
