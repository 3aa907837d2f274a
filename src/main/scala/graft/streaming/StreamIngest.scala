package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.core.{Fs, ProducerConfig}
import graft.core.catalog.Warehouse
import graft.core.log.LogWriter

/** Structured-Streaming produce path: a file-source (or any) stream feeds
  * `foreachBatch(LogWriter.append)` with the micro-batch id as the
  * idempotence key.
  *
  * This is the reference's producer loop re-expressed on Spark's execution
  * model (reference: src/main/java/producer/FluxProducer.java:62-64 schedules
  * `flushBuffer` every linger.ms; :110-245 drains ready batches to the
  * broker): the linger interval becomes the processing-time trigger, the
  * accumulator/drain machinery becomes the micro-batch itself, and the
  * ack/retry protocol (FluxProducer.java:191-239) becomes exactly-once
  * delivery via (checkpoint + batchId-keyed skip in the index table) — a
  * replayed micro-batch after a crash hits `LogIndex.hasBatch` (the
  * driver-side cached index read) and no-ops.
  */
object StreamIngest {

  /** Wire a streaming DataFrame into a topic's log. Caller starts the query.
    *
    * @param records streaming frame with the LogWriter input columns
    *                (`ts`, `key`, `value`, optional headers/explicit_partition)
    * @param ordCol  intra-batch total-order column for offset assignment
    */
  def writer(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      records: DataFrame,
      ordCol: String,
      checkpoint: String,
      lingerMs: Long = ProducerConfig().lingerMs,
      conf: ProducerConfig = ProducerConfig()): DataStreamWriter[Row] =
    records.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(lingerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        LogWriter.append(spark, wh, topic, batch, ordCol,
          batchId = Some(batchId), conf = conf)
        ()
      }

  /** Start ingesting a directory of parquet files as they arrive. */
  def fromParquetDir(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      ordCol: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    writer(spark, wh, topic, stream, ordCol, checkpoint).start()
  }

  /** Checkpointed streaming consumer: the continuous form of `poll`
    * (the Structured-Streaming analog of the reference's unimplemented
    * offset-commit API, SURVEY.md §2.7 Q6).
    *
    * Drives every read from the INDEX, never the raw partition dirs:
    * "readers only see indexed files" is the crash-safety invariant
    * ([[graft.core.log.LogWriter]]) — a file-source stream over the log dir
    * would emit a crashed append's orphaned data files (records that were
    * never committed, and after the retry lands, the same offsets twice).
    * A file-source stream over the INDEX dir is no better: the index
    * auto-compacts by in-place swap, which a path-keyed file source misses
    * entirely. So the consumer is its own micro-batch loop on Structured
    * Streaming's scheduler:
    *
    *   - a zero-row [[PulseSource]] supplies triggers, lifecycle, and a
    *     checkpointed monotone `batchId` — no rows are ever generated or
    *     scheduled;
    *   - each batch reads `[start, end)` per partition, where `start` is the
    *     previous batch's end and `end` is the index's committed next-offset
    *     (capped by `maxPerPartition`) — the range is persisted atomically
    *     under the checkpoint BEFORE `f` runs, so a crash-replayed batch
    *     re-reads exactly the same range: exactly-once delivery to an
    *     idempotent-by-batchId sink, never a superset;
    *   - the data read is the same in-driver index pruning as
    *     [[graft.core.log.LogReader.poll]] — one Spark job over just the
    *     intersecting committed files, offsets bounded both sides.
    *
    * @param f sink callback `(records, batchId)`; standard `foreachBatch`
    *          contract (must be idempotent per batchId for exactly-once)
    */
  def consume(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      checkpoint: String,
      triggerMs: Long = 500,
      maxPerPartition: Long = Long.MaxValue)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    consumer(spark, wh, topic, checkpoint, maxPerPartition, f)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()

  /** Drain-then-stop consumer: [[consume]] under `Trigger.AvailableNow`.
    * Delivers ONE batch covering everything committed at call time (the
    * pulse source hands the engine exactly one pulse, then reports drained)
    * and the returned query terminates on its own — await it. Shares the
    * checkpoint + intent-file protocol with [[consume]], so periodic drains
    * and a continuous query can alternate on one checkpoint (never run
    * concurrently — foreachBatch exactly-once is per-checkpoint).
    *
    * With `maxPerPartition` set, one call bites off at most that many
    * records per partition; the remainder waits for the next call. */
  def consumeAvailableNow(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      checkpoint: String,
      maxPerPartition: Long = Long.MaxValue)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    consumer(spark, wh, topic, checkpoint, maxPerPartition, f)
      .trigger(Trigger.AvailableNow())
      .start()

  private def consumer(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      checkpoint: String,
      maxPerPartition: Long,
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    spark.readStream
      .format(classOf[PulseSource].getName)
      .load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        val ranges = ConsumeState.rangesFor(
          spark, wh, topic, s"$checkpoint/graft-offset-ranges", batchId, maxPerPartition)
        if (ranges.exists { case (_, (s, e)) => e > s }) {
          f(ConsumeState.boundedScan(spark, wh, topic, ranges), batchId)
          ConsumeState.prune(s"$checkpoint/graft-offset-ranges", batchId)
        }
        ()
      }
}

/** Per-batch offset-range state of [[StreamIngest.consume]]: one small text
  * file per micro-batch (`batch-<id>`, lines `partition start end`), written
  * tmp + rename so a crash never leaves a torn intent. The file IS the
  * batch's read range: a replayed batch finds its own file and re-reads the
  * identical range even though the log has grown since. */
private[streaming] object ConsumeState {
  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.spark.sql.functions._
  import graft.core.log.LogIndex

  private val Name = "^batch-(\\d+)$".r

  /** The `[start, end)` range per partition that batch `batchId` must read:
    * its own persisted intent when replaying, else previous end → current
    * committed next-offsets. The fresh intent is persisted before return. */
  def rangesFor(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      topic: String,
      stateDir: String,
      batchId: Long,
      maxPerPartition: Long): Map[Int, (Long, Long)] = {
    val fs = Fs(stateDir)
    fs.mkdirs(new Path(stateDir))
    read(fs, new Path(stateDir, s"batch-$batchId")).getOrElse {
      val start: Map[Int, Long] = latestBefore(stateDir, batchId)
        .flatMap(id => read(fs, new Path(stateDir, s"batch-$id")))
        .map(_.map { case (p, (_, e)) => p -> e })
        .getOrElse(Map.empty)
      val committed = LogIndex.nextOffsets(spark, wh, topic)
      val ranges = committed.map { case (p, n) =>
        val s = start.getOrElse(p, 0L)
        // saturating cap: maxPerPartition bounds one batch's bite
        val cap = if (n - s > maxPerPartition) s + maxPerPartition else n
        p -> (s, math.max(cap, s))
      }
      if (ranges.exists { case (_, (s, e)) => e > s })
        write(fs, new Path(stateDir, s"batch-$batchId"), ranges)
      ranges
    }
  }

  /** Index-pruned read of exactly `[start, end)` per partition — one job
    * over just the intersecting committed files, through
    * [[graft.core.log.LogReader.segmentFiles]] like every other segment
    * read: schema pinned (a micro-batch loop must not pay a footer
    * schema-inference pass per batch) and retention-race-safe (a LAGGING
    * consumer whose range still references expired files gets the
    * retained rows instead of a mid-batch crash — Kafka's
    * out-of-range-falls-to-earliest shape; the skipped records ARE the
    * expired ones). */
  def boundedScan(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      topic: String,
      ranges: Map[Int, (Long, Long)]): org.apache.spark.sql.DataFrame =
    graft.core.log.LogReader.retryOnceOnVanished {
    val files = LogIndex.entries(spark, wh, topic)
      .filter { e =>
        ranges.get(e.partition).exists { case (s, end) =>
          e.isData && e.endOffset >= s && e.baseOffset < end
        }
      }
      .map(_.file)
    if (files.isEmpty)
      spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](), graft.core.Schemas.record)
    else {
      val lower = ranges.foldLeft(lit(Long.MaxValue)) { case (acc, (p, (s, _))) =>
        when(col("partition") === p, lit(s)).otherwise(acc)
      }
      val upper = ranges.foldLeft(lit(Long.MinValue)) { case (acc, (p, (_, e))) =>
        when(col("partition") === p, lit(e)).otherwise(acc)
      }
      graft.core.log.LogReader.segmentFiles(spark, wh, topic, files.toIndexedSeq)
        .filter(col("offset") >= lower && col("offset") < upper)
    }
  }

  /** Drop intent files older than the last few batches (replay only ever
    * reaches back one batch; a small tail is kept for debuggability). */
  def prune(stateDir: String, batchId: Long): Unit = {
    val fs = Fs(stateDir)
    ids(stateDir).filter(_ < batchId - 3)
      .foreach(id => fs.delete(new Path(stateDir, s"batch-$id"), false))
  }

  private def ids(stateDir: String): Seq[Long] =
    Fs.list(new Path(stateDir)).toSeq.map(_.getPath.getName).collect {
      case Name(id) => id.toLong
    }

  private def latestBefore(stateDir: String, batchId: Long): Option[Long] =
    ids(stateDir).filter(_ < batchId) match {
      case s if s.isEmpty => None
      case s => Some(s.max)
    }

  private def read(fs: FileSystem, p: Path): Option[Map[Int, (Long, Long)]] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val bytes =
          try in.readAllBytes()
          finally in.close()
        Some(new String(bytes, UTF_8).split("\n").filter(_.nonEmpty).map { line =>
          val Array(part, s, e) = line.trim.split(" ")
          part.toInt -> (s.toLong, e.toLong)
        }.toMap)
      }
    } catch { case _: Exception => None }

  private def write(fs: FileSystem, p: Path, ranges: Map[Int, (Long, Long)]): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(ranges.toSeq.sortBy(_._1)
      .map { case (part, (s, e)) => s"$part $s $e" }
      .mkString("\n").getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"consume state: failed to install $p")
  }
}
