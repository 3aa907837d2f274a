package graft.core.log

import java.nio.file.Files
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.core.Fs

/** The one writer of a topic's segment files, shared by both append paths
  * and compaction. Rows come as (partition, offset, stored columns…),
  * grouped by partition and offset-ascending within each; every file is
  * written once, at its final path `logDir/partition=<p>/`, and a new file
  * starts at each partition change or after `perFile` rows. The reference
  * broker appends to its segment in place the same way
  * (Log.java:93-103 → LogSegment.java:135-239).
  *
  * A file is written by parquet-mr's `ParquetWriter` over a `java.nio`
  * [[org.apache.parquet.io.LocalOutputFile]], with Spark's own
  * `ParquetWriteSupport` and the conf `ParquetFileFormat.prepareWrite`
  * fills (schema, codec, Spark's footer metadata): Spark's file layout with
  * no hand-written schema mapping, and no Hadoop create, which on the local
  * filesystem forks a `chmod` for the file, its `.crc` sidecar and each new
  * dir ([[graft.core.Fs]]). Bit rot is caught by parquet's page CRCs,
  * written by default and verified on every segment read.
  *
  * Nothing here commits: a written file is invisible until its caller
  * lands the returned index rows, so a crash leaves only unindexed files in
  * a live partition dir, which readers never see and `LogRetention.vacuum`
  * sweeps. File names carry the writer's UUID, the task index and the task
  * attempt number, so a retried attempt never collides with a failed one's
  * half-written file. */
private[log] final class SegmentWriter private (
    conf: SerializableConfiguration,
    dataSchema: StructType,
    logDir: String,
    perFile: Long,
    id: String) extends Serializable {

  /** Write the rows of one task; returns one index row per file (no batch
    * id), in write order. */
  def write(rows: Iterator[InternalRow], task: Int, attempt: Int): Seq[LogIndex.Entry] = {
    val codec = CompressionCodecName.fromConf(conf.value.get(ParquetOutputFormat.COMPRESSION))
    // the stored columns, everything after `partition`: a view, no copy
    val data = ProjectingInternalRow(dataSchema, 1 to dataSchema.length)
    val out = Seq.newBuilder[LogIndex.Entry]
    var files = 0
    var writer: ParquetWriter[InternalRow] = null
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
          val path = new Path(s"$logDir/partition=$partition/" +
            f"part-$task%05d-$id-a$attempt.c$files%03d${codec.getExtension}.parquet")
          file = path.toString
          files += 1
          val local = Fs.local(path)
          Files.createDirectories(local.getParent)
          writer = new SegmentWriter.Builder(new LocalOutputFile(local))
            .withConf(conf.value).withCompressionCodec(codec).build()
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
    new ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)
    new SegmentWriter(new SerializableConfiguration(job.getConfiguration),
      dataSchema, logDir, if (maxRecordsPerFile > 0) maxRecordsPerFile else Long.MaxValue,
      UUID.randomUUID().toString)
  }

  /** A `ParquetWriter` of Spark's rows through Spark's write support, which
    * reads its schema and options from the conf `prepareWrite` filled. */
  private final class Builder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override protected def self(): Builder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }
}
