package graft.core.log

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.core.Fs

/** The one writer of a topic's segment files, shared by both append paths
  * and compaction. Rows come as (partition, offset, stored columns…),
  * grouped by partition and offset-ascending within each; every file is
  * written once, at its final path `logDir/partition=<p>/`, through Spark's
  * own parquet writer (`ParquetFileFormat.prepareWrite`), and a new file
  * starts at each partition change or after `perFile` rows. The reference
  * broker appends to its segment in place the same way
  * (Log.java:93-103 → LogSegment.java:135-239).
  *
  * Nothing here commits: a written file is invisible until its caller
  * lands the returned index rows, so a crash leaves only unindexed files in
  * a live partition dir, which readers never see and `LogRetention.vacuum`
  * sweeps. File names carry the writer's UUID, the task index and the task
  * attempt number, so a retried attempt never collides with a failed one's
  * half-written file. */
private[log] final class SegmentWriter private (
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    dataSchema: StructType,
    logDir: String,
    perFile: Long,
    id: String) extends Serializable {

  /** Write the rows of one task; returns one index row per file (no batch
    * id), in write order. */
  def write(rows: Iterator[InternalRow], task: Int, attempt: Int): Seq[LogIndex.Entry] = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID("graft", 0, TaskType.MAP, task, attempt))
    val ext = factory.getFileExtension(ctx)
    // the stored columns, everything after `partition`: a view, no copy
    val data = ProjectingInternalRow(dataSchema, 1 to dataSchema.length)
    val out = Seq.newBuilder[LogIndex.Entry]
    var files = 0
    var writer: OutputWriter = null
    var file = ""
    var partition = 0
    var first, last, n = 0L
    def close(): Unit = if (writer != null) {
      writer.close()
      writer = null
      out += LogIndex.Entry(partition, file, first, last, n)
    }
    try {
      rows.foreach { r =>
        if (writer == null || r.getInt(0) != partition || n >= perFile) {
          close()
          partition = r.getInt(0)
          first = r.getLong(1)
          n = 0L
          file = new Path(s"$logDir/partition=$partition/" +
            f"part-$task%05d-$id-a$attempt.c$files%03d$ext").toString
          files += 1
          writer = factory.newInstance(file, dataSchema, ctx)
        }
        data.project(r)
        writer.write(data)
        last = r.getLong(1)
        n += 1
      }
      close()
    } catch {
      case e: Throwable =>
        if (writer != null) try writer.close() catch { case s: Throwable => e.addSuppressed(s) }
        throw e
    }
    out.result()
  }

  /** Write `df` — same row layout, each task's rows grouped and ordered as
    * [[write]] needs — in one Spark job, one [[write]] per task. */
  def write(df: DataFrame): Seq[LogIndex.Entry] =
    df.queryExecution.toRdd.mapPartitionsWithIndex { (i, rows) =>
      Iterator(write(rows, i, TaskContext.get().attemptNumber()))
    }.collect().toSeq.flatten
}

private[log] object SegmentWriter {

  /** A writer into `logDir` for rows of `schema` (`partition`, then the
    * stored columns, `offset` first). `maxRecordsPerFile` <= 0 means no
    * cap; `options` are parquet write options (`compression`). */
  def apply(
      spark: SparkSession,
      logDir: String,
      schema: StructType,
      maxRecordsPerFile: Long = 0L,
      options: Map[String, String] = Map.empty): SegmentWriter = {
    val dataSchema = StructType(schema.fields.drop(1))
    // Job copies the shared conf; prepareWrite sets the parquet keys on the copy
    val job = Job.getInstance(Fs.conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)
    new SegmentWriter(factory, new SerializableConfiguration(job.getConfiguration),
      dataSchema, logDir, if (maxRecordsPerFile > 0) maxRecordsPerFile else Long.MaxValue,
      UUID.randomUUID().toString)
  }
}
