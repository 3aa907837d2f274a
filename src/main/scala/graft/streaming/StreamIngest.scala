package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.core.ProducerConfig
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
    * offset-commit API, SURVEY.md §2.7 Q6) over the topic source
    * [[TopicSource]].
    *
    * Every read goes through the INDEX, never the raw partition dirs:
    * "readers only see indexed files" is the crash-safety invariant
    * ([[graft.core.log.LogWriter]]) — a file-source stream over the log dir
    * would emit a crashed append's orphaned data files (records that were
    * never committed, and after the retry lands, the same offsets twice).
    * The source's offset is a next offset per partition, advanced by the
    * group polls' fetch rule ([[graft.core.log.LogIndex.fetchRanges]],
    * capped by `maxPerPartition`), and Spark writes each batch's end offset
    * to the checkpoint's offset log BEFORE `f` runs, so a crash-replayed
    * batch re-reads exactly the same `[start, end)` range: exactly-once
    * delivery to an idempotent-by-batchId sink, never a superset. A batch
    * reads through [[graft.core.log.LogReader.scanRange]] — in-driver index
    * pruning, then one Spark job over just the intersecting committed files. A trigger
    * with nothing new runs no batch. A checkpoint written by an earlier
    * version's consumer, whose offsets counted triggers, is refused.
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
    * source fixes that batch's end, then reports drained) and the returned
    * query terminates on its own — await it. Shares the checkpoint with
    * [[consume]], so periodic drains and a continuous query can alternate
    * on one checkpoint (never run concurrently — foreachBatch exactly-once
    * is per-checkpoint).
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
      .format(classOf[TopicSource].getName)
      .option("warehouse", wh.root)
      .option("topic", topic)
      .option("maxPerPartition", maxPerPartition)
      .load()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)
}
