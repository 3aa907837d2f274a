package graft

import graft.core.{ProducerConfig, Schemas}
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import scala.jdk.CollectionConverters._

/** `LogWriter.append` has a driver path for a batch already in driver
  * memory (a `LocalRelation` plan) and a Spark path for every other frame.
  * This property runs generated batches through both — the Spark path
  * forced by a non-local copy of the same rows — and requires the same
  * result or exception per append, the same log rows and the same
  * per-partition index ranges. File splits may differ. */
class AppendPathsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ord", LongType, nullable = true),
    StructField("ts", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false),
    StructField("explicit_partition", IntegerType, nullable = true),
    StructField("headers", Schemas.headers, nullable = true)))

  /** One append: its rows, batch id, declared partitions and file cap. */
  private final case class Op(
      rows: Seq[Row], batchId: Option[Long], declared: Option[Seq[Int]], maxPerFile: Long)

  private final case class Case(partitions: Int, ops: Seq[Op])

  private val genHeaders: Gen[Seq[Row]] =
    Gen.oneOf(
      Gen.const(null),
      Gen.const(Seq.empty[Row]),
      Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, for {
        key <- Gen.oneOf("h", "g") // duplicate keys
        value <- Gen.oneOf(Gen.const(null), Gen.alphaNumStr.map(_.take(4).getBytes("UTF-8")))
      } yield Row(key, value))))

  private def genRow(partitions: Int, ord: java.lang.Long): Gen[Row] = for {
    ts <- Gen.choose(0L, 1000L)
    key <- Gen.oneOf(Gen.const(null), Gen.const(""), Gen.oneOf("a", "b", "c", "d", "e"))
    value <- Gen.alphaNumStr.map(_.take(6))
    explicit <- Gen.oneOf(Gen.const(null), Gen.choose(0, partitions - 1).map(Int.box),
      Gen.oneOf(-1, partitions, partitions + 3).map(Int.box))
    headers <- genHeaders
  } yield Row(ord, ts, key, value, explicit, headers)

  private def genOp(partitions: Int): Gen[Op] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 30))
    ords <- Gen.pick(n, -20L to 60L).map(_.map(Long.box))
    // at most one null ord, so the ords stay distinct
    withNull <- Gen.frequency(6 -> Gen.const(false), 1 -> Gen.const(true))
    rows <- Gen.sequence[List[Row], Row](
      (if (withNull && n > 0) null +: ords.tail else ords.toSeq).map(o => genRow(partitions, o)))
    seed <- Gen.long
    batchId <- Gen.oneOf(None, Some(1L), Some(2L))
    declared <- Gen.oneOf(Gen.const(None),
      Gen.someOf(0 until partitions).suchThat(_.nonEmpty).map(s => Some(s.toSeq)))
    maxPerFile <- Gen.oneOf(1L, 2L, 5L, 5000000L)
  } yield Op(new scala.util.Random(seed).shuffle(rows), batchId, declared, maxPerFile)

  private val genCase: Gen[Case] = for {
    partitions <- Gen.choose(1, 4)
    k <- Gen.choose(1, 3)
    ops <- Gen.listOfN(k, genOp(partitions))
  } yield Case(partitions, ops)

  /** An append's outcome: its result, or its exception's class and message. */
  private def outcome(body: => Any): Any =
    try body
    catch { case e: Exception => (e.getClass.getName, e.getMessage) }

  private def logRows(wh: Warehouse): Seq[String] =
    LogReader.scan(spark, wh, "t")
      .select("partition", "offset", "ts", "key", "value", "headers").collect().map { r =>
      val headers = Option(r.getSeq[Row](5)).map(_.map(h =>
        (h.getString(0), Option(h.getAs[Array[Byte]](1)).map(_.toSeq))))
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), headers).toString
    }.sorted.toSeq

  /** Per partition, the index entries with contiguous offsets and the same
    * batch id merged: equal on both paths however the files split. */
  private def indexRanges(wh: Warehouse): Map[Int, Seq[(Long, Long, Long, Option[Long])]] =
    LogIndex.entries(spark, wh, "t").filter(_.isData).groupBy(_.partition).map { case (p, es) =>
      p -> es.sortBy(_.baseOffset).foldLeft(Vector.empty[(Long, Long, Long, Option[Long])]) {
        case (acc :+ ((lo, hi, n, b)), e) if e.baseOffset == hi + 1 && e.batchId == b =>
          acc :+ ((lo, e.endOffset, n + e.count, b))
        case (acc, e) => acc :+ ((e.baseOffset, e.endOffset, e.count, e.batchId))
      }
    }

  test("driver and Spark paths give the same results, rows and index ranges") {
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val driverWh = Warehouse(tmpDir("graft-paths-driver"))
      val sparkWh = Warehouse(tmpDir("graft-paths-spark"))
      Seq(driverWh, sparkWh).foreach(TopicCatalog.createTopic(spark, _, "t", c.partitions))
      def append(wh: Warehouse, df: DataFrame, op: Op) = outcome(LogWriter.append(
        spark, wh, "t", df, "ord", op.batchId, ProducerConfig(maxRecordsPerFile = op.maxPerFile),
        op.declared))
      val outcomes = c.ops.map { op =>
        val local = spark.createDataFrame(op.rows.asJava, schema)
        val distributed = spark.createDataFrame(spark.sparkContext.parallelize(op.rows, 3), schema)
        (append(driverWh, local, op), append(sparkWh, distributed, op))
      }
      val mismatched = outcomes.zipWithIndex.collect { case ((d, s), i) if d != s =>
        s"append $i: driver $d, spark $s"
      }
      Prop(mismatched.isEmpty).label(mismatched.mkString("; ")) &&
        Prop(logRows(driverWh) == logRows(sparkWh)).label("log rows differ") &&
        Prop(indexRanges(driverWh) == indexRanges(sparkWh)).label(
          s"index ranges differ: driver ${indexRanges(driverWh)}, spark ${indexRanges(sparkWh)}")
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status.toString)
  }
}
