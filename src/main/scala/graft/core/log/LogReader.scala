package graft.core.log

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.catalog.Warehouse

/** The consume path: index-pruned incremental reads over a topic's log.
  *
  * Re-expresses the reference's fetch chain
  * (reference: src/main/java/consumer/FluxConsumer.java:136-179 →
  * grpc/services/ConsumerServiceImpl.java:17-45 →
  * server/internal/storage/LogSegment.java:278-339): the in-memory index map
  * + `RandomAccessFile.seek` becomes file pruning against [[LogIndex]]
  * followed by a Parquet scan whose `offset >= from` filter is pushed to
  * row-group stats (tight, because files are written offset-sorted).
  *
  * `poll` takes explicit (topic, partition, fromOffset) — the reference's
  * request drops topic/partition on the floor and the broker guesses
  * "first topic, partition 0" (SURVEY.md §2.7 Q3); we keep the intended
  * contract. Records come back strictly offset-ordered (FluxConsumer.java:165)
  * and the sort runs only over the pruned file set, never the whole log.
  */
object LogReader {

  /** Fetch up to `max` records of one partition starting at `fromOffset` —
    * the reference's `poll` (one micro-slice of the log, offset-ordered). */
  def poll(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      partition: Int,
      fromOffset: Long,
      max: Long): DataFrame = retryOnceOnVanished {
    pollIn(spark, wh, topic, LogIndex.entries(spark, wh, topic),
      partition, fromOffset, max)
  }

  /** [[poll]] pruned against a caller-held `entries` snapshot, so a caller
    * that derives more from the index (a group's next offsets) reads the
    * same snapshot the frame was built from. Callers wrap the snapshot
    * read and this call together in [[retryOnceOnVanished]]. */
  private[graft] def pollIn(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      entries: Array[LogIndex.Entry],
      partition: Int,
      fromOffset: Long,
      max: Long): DataFrame = {
    val to = fromOffset + max // exclusive
    // prune in-driver against the cached index — no Spark job; the poll
    // itself is then ONE job over just the intersecting files
    val hits = entries
      .filter(e => e.isData && e.partition == partition &&
        e.endOffset >= fromOffset && e.baseOffset < to)
    if (hits.isEmpty) emptyLog(spark, wh, topic)
    else {
      // schema pinned (Schemas.record; `partition` resolves from the
      // directory) — a poll is a point read, it must not pay a footer
      // schema-inference pass per call
      val slice = segmentFiles(spark, wh, topic, hits.map(_.file).toIndexedSeq)
        .filter(col("offset") >= fromOffset && col("offset") < to)
      // a poll slice is bounded by `max` (and by the pruned files' record
      // count, known from the index): sort it in ONE task instead of a
      // range-exchange — a global orderBy shuffles every poll, pure fixed
      // overhead for a micro-slice. Unbounded polls (pollAll-style max)
      // over big windows keep the distributed sort.
      val sliceRows = math.min(max, hits.map(_.count).sum)
      if (sliceRows <= SinglePartitionSortRows)
        slice.coalesce(1).sortWithinPartitions(col("offset"))
      else slice.orderBy(col("offset"))
    }
  }

  /** Poll slices at or under this many rows sort in a single task (the
    * slice is output-scale — it gets collected or appended either way);
    * larger windows fall back to the distributed range sort. */
  private val SinglePartitionSortRows = 1L << 22

  /** Kafka's `offsetsForTimes` analog: per partition, the earliest offset
    * whose record timestamp is at or after `tsMs` (empty entry when the
    * partition has no such record). One job over the indexed files with the
    * ts predicate pushed to parquet row-group statistics — records append
    * in arrival order, so per-file ts stats are tight and the segment files
    * themselves serve as the time index (the role of Kafka's .timeindex). */
  def offsetsForTimes(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      tsMs: Long): Map[Int, Long] =
    scan(spark, wh, topic)
      .filter(col("ts") >= tsMs)
      .groupBy(col("partition"))
      .agg(min(col("offset")).as("first_offset"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap

  /** All committed records of a topic from the given per-partition offsets
    * (exclusive lower bounds come from a group's committed offsets). The
    * returned frame is the topic "table" the query layer runs over. */
  def scan(spark: SparkSession, wh: Warehouse, topic: String): DataFrame =
    retryOnceOnVanished {
    val files = LogIndex.entries(spark, wh, topic).filter(_.isData).map(_.file)
    if (files.isEmpty) emptyLog(spark, wh, topic)
    else segmentFiles(spark, wh, topic, files.toIndexedSeq)
  }

  /** Exactly the records in `[start, end)` of each partition in `ranges`
    * — a streaming consumer's batch ([[graft.streaming.TopicSource]]).
    * One job over just the intersecting committed files, through
    * [[segmentFiles]] like every other segment read, so a LAGGING reader
    * whose range still covers expired files gets the retained rows
    * instead of a mid-batch crash — Kafka's out-of-range-falls-to-earliest
    * shape; the skipped records ARE the expired ones. */
  def scanRange(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      ranges: Map[Int, (Long, Long)]): DataFrame = retryOnceOnVanished {
    val files = LogIndex.entries(spark, wh, topic)
      .filter { e =>
        ranges.get(e.partition).exists { case (s, end) =>
          e.isData && e.endOffset >= s && e.baseOffset < end
        }
      }
      .map(_.file)
    if (files.isEmpty) emptyLog(spark, wh, topic)
    else {
      // the bounds are map literals, which generated code holds by
      // reference: every batch of a stream then compiles the same class
      // (inlined per-batch offsets would compile a new one each batch)
      def bound(f: ((Long, Long)) => Long) =
        typedLit(ranges.map { case (p, r) => p -> f(r) }).apply(col("partition"))
      segmentFiles(spark, wh, topic, files.toIndexedSeq)
        .filter(col("offset") >= bound(_._1) && col("offset") < bound(_._2))
    }
  }

  /** Frame over an explicit committed-segment file list, schema pinned
    * (`Schemas.record`; `partition` resolves from the directory) — a read
    * must not pay a footer schema-inference pass per call.
    *
    * '''Reads racing retention''': expiry is index-first — swap the index,
    * THEN delete the dropped data files — so a reader that resolved its
    * file list before a concurrent expiry's swap can hold references to
    * files already gone when its tasks run. `ignoreMissingFiles` turns
    * that into Kafka's observable fetch-racing-retention semantics:
    * expiry only ever removes WHOLE files strictly below a partition
    * watermark (a log PREFIX), so skipping a vanished file yields exactly
    * the post-expiry log — the fetch returns what is still retained
    * instead of crashing mid-scan (a genuinely lost file is
    * indistinguishable here; the dense-offsets oracle above the retention
    * watermark remains the detection surface). A file can also vanish in
    * the window between the index read and THIS relation's creation,
    * where Spark's existence check throws instead — that path re-reads
    * the (now re-fingerprinted) index and resolves once more. */
  private[graft] def segmentFiles(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      files: Seq[String]): DataFrame =
    spark.read.option("basePath", wh.logDir(topic))
      .option("ignoreMissingFiles", "true")
      .schema(graft.core.Schemas.record)
      .parquet(files: _*)

  /** Re-run `body` once when relation CREATION failed because an indexed
    * file expired between the index read and the existence check — the
    * retry re-reads the index (the fingerprint check picks up the swap)
    * and prunes again. A second consecutive vanish propagates: expiry
    * bursts are index-swap-then-delete, so the re-read sees the final
    * state. */
  private[graft] def retryOnceOnVanished[A](body: => A): A =
    try body catch {
      case e: org.apache.spark.sql.AnalysisException if isVanishedPath(e) =>
        body
    }

  /** Vanished-path classification for the retry. Spark 4 stamps the
    * error class on `AnalysisException` (`SparkThrowable.getCondition`,
    * `PATH_NOT_FOUND`) — match on THAT, not the message text, so a
    * minor-version message rewording cannot silently disable the retry;
    * the message check survives only as a fallback for classless
    * exceptions (e.g. wrapped filesystem errors). */
  private[graft] def isVanishedPath(
      e: org.apache.spark.sql.AnalysisException): Boolean = {
    val cond = e.getCondition
    if (cond != null && cond.nonEmpty) cond == "PATH_NOT_FOUND"
    else e.getMessage != null &&
      (e.getMessage.contains("PATH_NOT_FOUND") ||
        e.getMessage.toLowerCase.contains("path does not exist"))
  }

  private def emptyLog(spark: SparkSession, wh: Warehouse, topic: String): DataFrame =
    spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](), graft.core.Schemas.record)
}
