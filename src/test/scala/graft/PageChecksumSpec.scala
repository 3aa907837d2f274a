package graft

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.Paths
import java.nio.file.StandardOpenOption.{READ, WRITE}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.core.Fs
import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogWriter}

/** Bit rot in a written file fails every read of it with an error naming
  * a checksum: a segment file on a poll and a deep `verifyTopic`, an index
  * delta on the index reload. Never a silent wrong answer. */
class PageChecksumSpec extends SparkSpec {
  import spark.implicits._

  private def recs(n: Int) =
    (0 until n).map(i => (i.toLong, 1700000000000L + i, s"k${i % 5}", s"value-$i"))
      .toDF("id", "ts", "key", "value")

  /** Flip the last byte of `column`'s chunk in the file's first row group:
    * a chunk ends with its last data page, so the byte is inside that
    * page's data. */
  private def flipDataPageByte(file: String, column: String): Unit = {
    val path = new Path(file)
    val reader = ParquetFileReader.open(Fs.inputFile(path))
    val chunk =
      try reader.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == column).get
      finally reader.close()
    val at = chunk.getStartingPos + chunk.getTotalSize - 1
    val ch = FileChannel.open(Paths.get(path.toUri.getPath), READ, WRITE)
    try {
      val b = ByteBuffer.allocate(1)
      ch.read(b, at)
      b.put(0, (b.get(0) ^ 0xff).toByte)
      b.rewind()
      ch.write(b, at)
    } finally ch.close()
  }

  private def namesChecksum(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => s"${t.getClass.getName} ${t.getMessage}".toLowerCase.contains("checksum"))

  private def failsOnChecksum(what: String)(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    assert(namesChecksum(e), s"$what failed without naming a checksum: $e")
  }

  test("a flipped byte in a segment's data page fails a poll and a deep verifyTopic") {
    val wh = Warehouse(tmpDir("graft-crc-segment"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t", recs(200).withColumn("explicit_partition", lit(0)), "id")
    assert(Admin.verifyTopic(spark, wh, "t", deep = true).ok)
    val files = LogIndex.entries(spark, wh, "t").filter(_.isData).map(_.file)
    assert(files.length === 1)
    flipDataPageByte(files.head, "value")
    failsOnChecksum("poll")(LogReader.poll(spark, wh, "t", 0, 0, 200).collect())
    failsOnChecksum("deep verifyTopic")(Admin.verifyTopic(spark, wh, "t", deep = true))
  }

  test("a flipped byte in an index delta's data page fails the index reload") {
    val wh = Warehouse(tmpDir("graft-crc-delta"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t", recs(10), "id")
    val deltas = new java.io.File(wh.indexDir("t")).listFiles()
      .filter(f => f.getName.startsWith("delta-") && f.getName.endsWith(".parquet"))
    assert(deltas.length === 1)
    flipDataPageByte(deltas.head.toURI.toString, "file")
    LogIndex.invalidate(wh, "t")
    failsOnChecksum("index reload")(LogIndex.entries(spark, wh, "t"))
  }
}
