package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.core.{Fs, ProducerConfig}
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogRetention, LogWriter}

/** Segment files are written once, at their final path, and the index row
  * is the commit: a rejected append writes nothing, and every index row
  * states exactly what its file holds. */
class SegmentWriteSpec extends SparkSpec {

  /** Names of every file under the topic's log dir, checksum sidecars
    * included. */
  private def files(wh: Warehouse, topic: String): Seq[String] = {
    val dir = Paths.get(wh.logDir(topic))
    if (!Files.exists(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala.filter(f => Files.isRegularFile(f))
      .map(_.getFileName.toString).toSeq
  }

  test("a Spark-path append routed outside its declared partitions runs only the count pass") {
    val wh = Warehouse(tmpDir("graft-stray"))
    TopicCatalog.createTopic(spark, wh, "t", 4)
    val df = spark.range(0, 200).select(
      col("id").as("ord"),
      (lit(1700000000000L) + col("id")).as("ts"),
      col("id").cast("string").as("key"),
      col("id").cast("string").as("value"),
      (col("id") % 4).cast("int").as("explicit_partition"))
    val sc = spark.sparkContext
    // assignOffsets runs the count pass eagerly and nothing else
    val (_, countPass) = JobStats.measure(sc)(LogWriter.assignOffsets(
      df, col("explicit_partition"), col("key"), col("ord"), 4))
    val (err, append) = JobStats.measure(sc)(intercept[IllegalArgumentException](
      LogWriter.append(spark, wh, "t", df, "ord", partitions = Some(Seq(0, 1)))))
    assert(err.getMessage === "records routed to partition=2,partition=3 outside the " +
      "declared partition set 0,1 — nothing was committed")
    assert(append.jobs === countPass.jobs, append.records.map(_.site).mkString("; "))
    assert(files(wh, "t").isEmpty, "nothing written under the log dir")
    assert(LogIndex.entries(spark, wh, "t").isEmpty)
  }

  /** (min offset, max offset, rows) from the file's parquet footer. */
  private def footer(file: String): (Long, Long, Long) = {
    val reader = ParquetFileReader.open(Fs.inputFile(new Path(file)))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val stats = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "offset").map(_.getStatistics)
      (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue).min,
        stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue).max,
        blocks.map(_.getRowCount).sum)
    } finally reader.close()
  }

  test("every index row equals its file's footer after both append paths and a compaction") {
    import spark.implicits._
    val wh = Warehouse(tmpDir("graft-footers"))
    TopicCatalog.createTopic(spark, wh, "t", 3)
    // driver path: a local frame, cut at 7 rows per file
    val local = (0 until 50)
      .map(i => (i.toLong, 1700000000000L + i, s"k${i % 9}", s"v$i"))
      .toDF("id", "ts", "key", "value")
    LogWriter.append(spark, wh, "t", local, "id", conf = ProducerConfig(maxRecordsPerFile = 7))
    // Spark path: a range frame, cut at 13 rows per file
    val distributed = spark.range(50, 250).select(
      col("id"),
      (lit(1700000000000L) + col("id")).as("ts"),
      concat(lit("k"), (col("id") % 9).cast("string")).as("key"),
      concat(lit("v"), col("id").cast("string")).as("value"))
    LogWriter.append(spark, wh, "t", distributed, "id",
      conf = ProducerConfig(maxRecordsPerFile = 13))

    def footersMatch(): Int = {
      val data = LogIndex.entries(spark, wh, "t").filter(_.isData)
      data.foreach { e =>
        assert(new Path(e.file).getParent.getName === s"partition=${e.partition}", e.file)
        assert(footer(e.file) === ((e.baseOffset, e.endOffset, e.count)), e.file)
      }
      assert(files(wh, "t").count(!_.startsWith(".")) === data.length,
        "no unindexed file in the log dir")
      data.length
    }
    assert(footersMatch() > 3 * 2, "both paths cut several files")
    LogRetention.compact(spark, wh, "t")
    val compacted = LogIndex.entries(spark, wh, "t").filter(_.isData)
    assert(footersMatch() === compacted.map(_.partition).distinct.length,
      "one compacted file per partition")
    assert(compacted.map(_.count).sum === 9, "the latest record per key survives")
  }
}
