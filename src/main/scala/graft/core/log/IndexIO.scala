package graft.core.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import graft.core.Fs

/** Driver-side parquet I/O for the per-topic offset index.
  *
  * The index is METADATA — one ~100-byte row per committed segment file,
  * bounded by the writer's auto-compaction — yet reloading it through
  * `spark.read.parquet(...).collect()` and landing each append's delta
  * through a `coalesce(1)` Spark write cost one driver JOB each: pure
  * scheduler round-trips (60-130 ms p50 on this box) on the hot produce
  * path and the first read after every append. Reading and writing the
  * rows with parquet-mr directly on the driver removes both jobs — the
  * same discipline as the footer-stats indexer
  * ([[LogWriter.footerStats]]), which already reads parquet metadata
  * driver-side. Spark-written and driver-written files are
  * interchangeable in one index dir: both carry the
  * [[graft.core.Schemas.index]] columns, and every Spark read of the dir
  * pins that schema explicitly ([[LogIndex.forTopic]]).
  *
  * LOCAL-FS ASSUMPTION: every path here resolves through
  * [[graft.core.Fs]], the driver's one shared Hadoop configuration, which
  * carries the defaults. It is the single place a session's `spark.hadoop.*`
  * settings would be threaded for a warehouse on a configured filesystem
  * (that threading is not done: the warehouse is a local directory).
  */
private[graft] object IndexIO {

  /** One index row, batch id included ([[IndexCache.Entry]] is the
    * reader-facing projection). */
  final case class IndexRow(
      topic: String,
      partition: Int,
      file: String,
      baseOffset: Long,
      endOffset: Long,
      count: Long,
      batchId: Option[Long])

  /** parquet-mr twin of [[graft.core.Schemas.index]] (same names, same
    * physical types Spark writes: UTF8-annotated binary for strings,
    * plain int32/int64 for the numerics, optional batch_id). */
  private val WriteSchema: MessageType = Types.buildMessage()
    .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("topic")
    .required(INT32).named("partition")
    .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("file")
    .required(INT64).named("base_offset")
    .required(INT64).named("end_offset")
    .required(INT64).named("count")
    .optional(INT64).named("batch_id")
    .named("spark_schema")

  /** Every row of every data file under `indexDir` — no Spark job; one
    * parallel driver pass over the (compaction-bounded) file list. */
  def readRows(indexDir: String): Array[IndexRow] = {
    val files = Fs.list(new Path(indexDir))
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    import scala.jdk.CollectionConverters._
    java.util.Arrays.stream(files).parallel()
      .map[Array[IndexRow]](p => readFile(p))
      .collect(java.util.stream.Collectors.toList[Array[IndexRow]])
      .asScala.toArray.flatten
  }

  private def readFile(path: Path): Array[IndexRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[IndexRow]
    val reader = new ParquetReader.Builder[Group](Fs.inputFile(path)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport
    }.build()
    try {
      var g: Group = reader.read()
      while (g != null) {
        out += IndexRow(
          g.getString("topic", 0),
          g.getInteger("partition", 0),
          g.getString("file", 0),
          g.getLong("base_offset", 0),
          g.getLong("end_offset", 0),
          g.getLong("count", 0),
          if (g.getFieldRepetitionCount("batch_id") > 0)
            Some(g.getLong("batch_id", 0))
          else None)
        g = reader.read()
      }
    } finally reader.close()
    out.toArray
  }

  /** Write `rows` as ONE parquet file at `path` — no Spark job. */
  def writeFile(path: Path, rows: Seq[IndexRow]): Unit = {
    // a private copy: a writer builder may set keys on the conf it is handed
    val conf = new Configuration(Fs.conf)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(path, conf))
      .withType(WriteSchema)
      .withConf(conf)
      .build()
    val factory = new SimpleGroupFactory(WriteSchema)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.append("topic", r.topic)
      g.append("partition", r.partition)
      g.append("file", r.file)
      g.append("base_offset", r.baseOffset)
      g.append("end_offset", r.endOffset)
      g.append("count", r.count)
      r.batchId.foreach(b => g.append("batch_id", b))
      writer.write(g)
    } finally writer.close()
  }

  /** Round-trip sanity surface for specs: the footer row count of one
    * file, read driver-side. */
  private[graft] def fileRowCount(path: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(Fs.inputFile(path))
    try reader.getRecordCount finally reader.close()
  }
}
