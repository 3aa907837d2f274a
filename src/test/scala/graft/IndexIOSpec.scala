package graft

import org.apache.spark.sql.Row

import graft.core.Schemas
import graft.core.catalog.Warehouse
import graft.core.log.LogIndex
import graft.core.log.LogIndex.Entry

/** The offset index's driver-side read path over files Spark wrote: a
  * warehouse written before the index moved to the driver holds a
  * Spark-compacted index plus Spark-appended deltas, and
  * [[graft.core.log.LogIndex.entries]] must decode both, `batch_id` nulls
  * included, or offset assignment would silently restart. */
class IndexIOSpec extends SparkSpec {

  private val compacted = Seq(
    Entry(0, "f0.parquet", 0L, 99L, 100L),
    Entry(0, LogIndex.HwmFile, 100L, 99L, 0L))
  private val delta = Seq(Entry(1, "f1.parquet", 0L, 49L, 50L, Some(7L)))

  private def toRow(e: Entry): Row =
    Row("t", e.partition, e.file, e.baseOffset, e.endOffset, e.count,
      e.batchId.map(Long.box).orNull)

  test("IndexIO reads a Spark-written index file (legacy deltas, compacted indexes)") {
    val wh = Warehouse(tmpDir("graft-indexio-legacy"))
    def sparkWrite(mode: String, es: Seq[Entry]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(es.map(toRow): _*), Schemas.index)
        .coalesce(1).write.mode(mode).parquet(wh.indexDir("t"))
    sparkWrite("overwrite", compacted)
    assert(LogIndex.entries(spark, wh, "t").toSet === compacted.toSet)
    sparkWrite("append", delta)
    assert(LogIndex.entries(spark, wh, "t").toSet === (compacted ++ delta).toSet)
    assert(LogIndex.nextOffsets(spark, wh, "t") === Map(0 -> 100L, 1 -> 50L))
    assert(LogIndex.hasBatch(spark, wh, "t", 7L))
  }
}
