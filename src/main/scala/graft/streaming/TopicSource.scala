package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftInternal, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{
  ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType
import graft.core.Schemas
import graft.core.catalog.Warehouse
import graft.core.log.{LogIndex, LogReader}

/** A topic as a Structured Streaming source: `readStream.format(<this
  * class>)` with options `warehouse`, `topic` and `maxPerPartition`
  * ([[StreamIngest.consume]] sets them).
  *
  * The offset is a per-partition next-offset map. A batch ends where
  * [[graft.core.log.LogIndex.fetchRanges]] — the rule group polls use —
  * ends from its start: past expired offsets, at most `maxPerPartition`
  * per partition; the remainder waits. The engine writes a batch's end
  * offset to the checkpoint's offset log before the batch runs, so a
  * crash-replayed batch re-reads exactly its `[start, end)` range even
  * though the log has grown since — the replay contract the consumer's
  * exactly-once delivery rests on. Progress reports each batch's start and
  * end offsets and the committed next offsets as its latest offset, so a
  * consumer's lag is latest − end per partition.
  *
  * A batch is [[graft.core.log.LogReader.scanRange]] — index-pruned,
  * retention-safe — flagged as streaming, so the scan stays a parquet
  * relation. `numInputRows` counts every read of the batch frame; the
  * exact count of a batch is end − start.
  *
  * Offsets are canonical JSON with partitions in ascending order: offsets
  * compare by their JSON, and the ones read back from the offset log
  * arrive as serialized strings. A checkpoint whose offset is not such a
  * map (the trigger counter of the zero-row source that earlier versions
  * ran the consumer on) is refused with an error naming it. */
class TopicSource extends StreamSourceProvider {
  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (s"graft-topic-${parameters("topic")}", Schemas.record)

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new TopicStream(sqlContext.sparkSession, Warehouse(parameters("warehouse")),
      parameters("topic"), parameters("maxPerPartition").toLong,
      // the engine hands out <checkpoint>/sources/<n>
      new org.apache.hadoop.fs.Path(metadataPath).getParent.getParent.toString)
}

object TopicSource {

  /** Next offset to read, per partition. */
  final case class TopicOffset(next: Map[Int, Long]) extends Offset {
    override def json(): String = next.toSeq.sorted
      .map { case (p, n) => s""""$p":$n""" }.mkString("{", ",", "}")
  }

  private val Entry = """"(\d+)":(\d+)""".r

  /** The next-offset map of an offset this source wrote, whether live or
    * read back from the offset log; `null` (no batch yet) is empty. */
  private[streaming] def nextOffsets(o: StreamOffset, checkpoint: String): Map[Int, Long] =
    o match {
      case null => Map.empty
      case t: TopicOffset => t.next
      case other =>
        val json = other.json.trim
        if (!json.startsWith("{") || !json.endsWith("}"))
          throw new IllegalStateException(
            s"checkpoint $checkpoint holds the offset '$json', not a topic's " +
              "per-partition offsets: it was written by an earlier version's " +
              "consumer, whose offsets count triggers. Consume from a new " +
              "checkpoint.")
        Entry.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    }
}

private class TopicStream(
    spark: SparkSession,
    wh: Warehouse,
    topic: String,
    maxPerPartition: Long,
    checkpoint: String)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import TopicSource.{TopicOffset, nextOffsets}

  /** Committed next offsets as of the last `latestOffset` call. */
  @volatile private var committed = Map.empty[Int, Long]
  /** AvailableNow: the index bounds when the run was prepared, and the one
    * batch's end, fixed at the run's first `latestOffset` — the
    * checkpoint's start is known only then. */
  @volatile private var availableNowMark: Option[Map[Int, LogIndex.Bounds]] = None
  @volatile private var availableNowEnd: Option[TopicOffset] = None

  override def schema: StructType = Schemas.record

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "the topic source admits by latestOffset(start, limit)")

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowMark = Some(bounds())

  private def bounds() = LogIndex.bounds(LogIndex.entries(spark, wh, topic))

  override def latestOffset(startOffset: StreamOffset, limit: ReadLimit): StreamOffset = {
    val now = bounds()
    committed = now.map { case (p, b) => p -> b.next }
    val start = nextOffsets(startOffset, checkpoint)
    val ranges = LogIndex.fetchRanges(availableNowMark.getOrElse(now), start, maxPerPartition)
    val end = availableNowEnd.getOrElse {
      val e = TopicOffset(start ++ ranges.map { case (p, r) => p -> r._2 })
      if (availableNowMark.isDefined) availableNowEnd = Some(e)
      e
    }
    // the first batch of a checkpoint has no start: nothing readable is no data
    if (startOffset == null && ranges.values.forall { case (s, e) => s == e }) null else end
  }

  override def reportLatestOffset(): StreamOffset =
    if (committed.isEmpty) null else TopicOffset(committed)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = nextOffsets(start.orNull, checkpoint)
    val ranges = nextOffsets(end, checkpoint).map { case (p, n) =>
      p -> (from.getOrElse(p, 0L), n)
    }
    // the relation puts the directory's `partition` column last
    GraftInternal.streamingFrame(LogReader.retryOnceOnVanished(
      LogReader.scanRange(spark, wh, topic, LogIndex.entries(spark, wh, topic), ranges))
      .select(schema.fieldNames.toSeq.map(col): _*))
  }

  override def stop(): Unit = ()
}
