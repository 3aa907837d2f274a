package graft.core.log

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.catalog.Warehouse

/** The consume path: index-pruned reads over a topic's log.
  *
  * Re-expresses the reference's fetch chain
  * (reference: src/main/java/consumer/FluxConsumer.java:136-179 →
  * grpc/services/ConsumerServiceImpl.java:17-45 →
  * server/internal/storage/LogSegment.java:278-339): the in-memory index map
  * + `RandomAccessFile.seek` becomes file pruning against [[LogIndex]]
  * followed by a Parquet scan of just the pruned files. Consumers (group
  * polls, the streaming source) read the `[start, end)` ranges that
  * [[LogIndex.fetchRanges]] decides through [[scanRange]]. [[poll]] is the
  * raw (topic, partition, fromOffset) read — the reference's request drops
  * topic/partition on the floor (SURVEY.md §2.7 Q3) — whose `offset`
  * bounds push to row-group stats (tight: files are written offset-sorted).
  * Polls come back offset-ordered (FluxConsumer.java:165), sorted over the
  * pruned files only, never the whole log.
  */
object LogReader {

  /** Fetch up to `max` records of one partition starting at `fromOffset`,
    * taken as given — the reference's `poll` (one micro-slice of the log,
    * offset-ordered), the raw point read under the consumers' rule. */
  def poll(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      partition: Int,
      fromOffset: Long,
      max: Long): DataFrame = retryOnceOnVanished {
    val to = fromOffset + max // exclusive
    // prune in-driver against the cached index — no Spark job; the poll
    // itself is then ONE job over just the intersecting files
    val hits = LogIndex.entries(spark, wh, topic)
      .filter(e => e.isData && e.partition == partition &&
        e.endOffset >= fromOffset && e.baseOffset < to)
    if (hits.isEmpty) emptyLog(spark, wh, topic)
    else sortSlice(
      segmentFiles(spark, wh, topic, hits.map(_.file).toIndexedSeq)
        .filter(col("offset") >= fromOffset && col("offset") < to),
      math.min(max, hits.map(_.count).sum), "offset")
  }

  /** Sort a fetched slice of at most `rows` rows by `keys`. A slice at or
    * under [[SinglePartitionSortRows]] sorts in ONE task instead of a
    * range-exchange — a global orderBy shuffles every poll, pure fixed
    * overhead for a micro-slice that gets collected or appended either
    * way. Larger windows keep the distributed sort. */
  private[graft] def sortSlice(slice: DataFrame, rows: Long, keys: String*): DataFrame =
    if (rows <= SinglePartitionSortRows) slice.coalesce(1).sortWithinPartitions(keys.map(col): _*)
    else slice.orderBy(keys.map(col): _*)

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

  /** Exactly the records in `[start, end)` of each partition in `ranges`,
    * unordered — a group poll's or a stream batch's read, ranged by
    * [[LogIndex.fetchRanges]] over the same `entries` snapshot it prunes
    * against. Callers wrap the snapshot read and this call together in
    * [[retryOnceOnVanished]]. One job over just the intersecting committed
    * files, through [[segmentFiles]] like every other segment read, so a
    * LAGGING reader whose range still covers expired files gets the
    * retained rows instead of a mid-batch crash — Kafka's
    * out-of-range-falls-to-earliest shape. */
  private[graft] def scanRange(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      entries: Array[LogIndex.Entry],
      ranges: Map[Int, (Long, Long)]): DataFrame = {
    val files = entries
      .filter { e =>
        ranges.get(e.partition).exists { case (s, end) =>
          e.isData && e.endOffset >= s && e.baseOffset < end
        }
      }
      .map(_.file)
    if (files.isEmpty) emptyLog(spark, wh, topic)
    else {
      // the bounds are map literals, which generated code holds by
      // reference: every steady poll or batch compiles the same class
      // (inlined offsets would compile a new one each call). They do not
      // reach row-group statistics: the index prunes by file only.
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
    * the (now re-fingerprinted) index and resolves once more.
    *
    * Every page read is checked against the CRC parquet wrote into its
    * header ([[VerifyPageChecksums]]): a corrupt page fails the read. */
  private[graft] def segmentFiles(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      files: Seq[String]): DataFrame =
    spark.read.option("basePath", wh.logDir(topic))
      .option("ignoreMissingFiles", "true")
      .option(VerifyPageChecksums, "true")
      .schema(graft.core.Schemas.record)
      .parquet(files: _*)

  /** The parquet read option that checks each page against the CRC in
    * its header. Segment files are written through `java.nio` with no
    * Hadoop `.crc` sidecar, so these page CRCs are their bit-rot check. */
  private[graft] val VerifyPageChecksums = "parquet.page.verify-checksum.enabled"

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
