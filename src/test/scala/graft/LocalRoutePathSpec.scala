package graft

import graft.core.{ProducerConfig, Schemas}
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import scala.jdk.CollectionConverters._

/** `LogWriter.append` takes its driver path when the INPUT is local (its
  * analyzed plan, or else its optimized plan, is a `LocalRelation`) and
  * routes those rows with one generated projection instead of an
  * optimizer pass. This property feeds it generated local frames of every
  * optional-column shape — with or without `ts`, `key`, `headers` and
  * `explicit_partition` — bare, filtered, re-derived with `withColumn`, or
  * unioned, and requires the same result or exception per append, the
  * same log rows and the same per-partition index ranges as the Spark path
  * over a non-local copy of the same rows. A frame without `ts` is stamped
  * with the append time, so there `ts` must lie inside the append's
  * window on both sides and is left out of the row comparison. */
class LocalRoutePathSpec extends SparkSpec {

  private val full = StructType(Seq(
    StructField("ord", LongType, nullable = true),
    StructField("ts", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false),
    StructField("explicit_partition", IntegerType, nullable = true),
    StructField("headers", Schemas.headers, nullable = true)))

  private val optional = Seq("ts", "key", "headers", "explicit_partition")

  private sealed trait Shape
  private case object Bare extends Shape
  private case object Filtered extends Shape
  private case object Derived extends Shape
  private case object Unioned extends Shape

  private final case class Case(
      partitions: Int, columns: Seq[String], shape: Shape, batches: Seq[Seq[Row]], maxPerFile: Long)

  private val genHeaders: Gen[Seq[Row]] =
    Gen.oneOf(Gen.const(null), Gen.const(Seq.empty[Row]),
      Gen.choose(1, 2).flatMap(k => Gen.listOfN(k,
        Gen.alphaNumStr.map(v => Row("h", v.take(3).getBytes("UTF-8"))))))

  private def genRow(partitions: Int, ord: java.lang.Long): Gen[Row] = for {
    ts <- Gen.choose(0L, 1000L)
    key <- Gen.oneOf(Gen.const(null), Gen.const(""), Gen.oneOf("a", "b", "c", "d"))
    value <- Gen.alphaNumStr.map(_.take(5))
    explicit <- Gen.oneOf(Gen.const(null), Gen.choose(-1, partitions).map(Int.box))
    headers <- genHeaders
  } yield Row(ord, ts, key, value, explicit, headers)

  private def genBatch(partitions: Int): Gen[Seq[Row]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 25))
    ords <- Gen.pick(n, -10L to 50L).map(_.map(Long.box).toSeq)
    withNull <- Gen.frequency(8 -> Gen.const(false), 1 -> Gen.const(true))
    rows <- Gen.sequence[List[Row], Row](
      (if (withNull && n > 0) null +: ords.tail else ords).map(o => genRow(partitions, o)))
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle(rows)

  private val genCase: Gen[Case] = for {
    partitions <- Gen.choose(1, 4)
    kept <- Gen.someOf(optional)
    shape <- Gen.oneOf(Bare, Filtered, Derived, Unioned)
    k <- Gen.choose(1, 2)
    batches <- Gen.listOfN(k, genBatch(partitions))
    maxPerFile <- Gen.oneOf(2L, 7L, 5000000L)
  } yield Case(partitions, Seq("ord", "value") ++ kept, shape, batches, maxPerFile)

  /** The batch as a frame of `columns`, local or spread over 3 slices,
    * shaped as the case says; a union splits the rows between its sides. */
  private def frame(c: Case, rows: Seq[Row], local: Boolean): DataFrame = {
    val idx = c.columns.map(full.fieldIndex)
    val schema = StructType(idx.map(full.fields(_)))
    def make(rs: Seq[Row]): DataFrame = {
      val projected = rs.map(r => Row.fromSeq(idx.map(r.get)))
      if (local) spark.createDataFrame(projected.asJava, schema)
      else spark.createDataFrame(spark.sparkContext.parallelize(projected, 3), schema)
    }
    c.shape match {
      case Bare => make(rows)
      case Filtered => make(rows).filter(length(col("value")) % 2 === 0 || col("ord").isNull)
      case Derived => make(rows).withColumn("value", concat(col("value"), lit("!")))
      case Unioned =>
        val (a, b) = rows.splitAt(rows.length / 2)
        make(a).union(make(b))
    }
  }

  private def outcome(body: => Any): Any =
    try body
    catch { case e: Exception => (e.getClass.getName, e.getMessage) }

  /** The log's rows, `ts` left out when the frames have none. */
  private def logRows(wh: Warehouse, withTs: Boolean): Seq[String] =
    LogReader.scan(spark, wh, "t")
      .select("partition", "offset", "ts", "key", "value", "headers").collect().map { r =>
      val headers = Option(r.getSeq[Row](5)).map(_.map(h =>
        (h.getString(0), Option(h.getAs[Array[Byte]](1)).map(_.toSeq))))
      (r.getInt(0), r.getLong(1), if (withTs) Some(r.getLong(2)) else None, r.getString(3),
        r.getString(4), headers).toString
    }.sorted.toSeq

  private def stamps(wh: Warehouse): Seq[Long] =
    LogReader.scan(spark, wh, "t").select("ts").collect().map(_.getLong(0)).toSeq

  private def indexRanges(wh: Warehouse): Map[Int, Seq[(Long, Long, Long)]] =
    LogIndex.entries(spark, wh, "t").filter(_.isData).groupBy(_.partition).map { case (p, es) =>
      p -> es.sortBy(_.baseOffset).foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc :+ ((lo, hi, n)), e) if e.baseOffset == hi + 1 =>
          acc :+ ((lo, e.endOffset, n + e.count))
        case (acc, e) => acc :+ ((e.baseOffset, e.endOffset, e.count))
      }
    }

  test("local frames of every column set and shape match the Spark path") {
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val driverWh = Warehouse(tmpDir("graft-route-driver"))
      val sparkWh = Warehouse(tmpDir("graft-route-spark"))
      Seq(driverWh, sparkWh).foreach(TopicCatalog.createTopic(spark, _, "t", c.partitions))
      def append(wh: Warehouse, df: DataFrame) = outcome(LogWriter.append(
        spark, wh, "t", df, "ord", conf = ProducerConfig(maxRecordsPerFile = c.maxPerFile)))
      val from = System.currentTimeMillis()
      val outcomes = c.batches.map { rows =>
        (append(driverWh, frame(c, rows, local = true)),
          append(sparkWh, frame(c, rows, local = false)))
      }
      val to = System.currentTimeMillis()
      val withTs = c.columns.contains("ts")
      val mismatched = outcomes.zipWithIndex.collect { case ((d, s), i) if d != s =>
        s"append $i: driver $d, spark $s"
      }
      val stamped = withTs || Seq(driverWh, sparkWh).forall(
        stamps(_).forall(ts => ts >= from && ts <= to))
      Prop(mismatched.isEmpty).label(mismatched.mkString("; ")) &&
        Prop(stamped).label("a ts stamp outside the appends' window") &&
        Prop(logRows(driverWh, withTs) == logRows(sparkWh, withTs)).label(
          s"log rows differ for $c") &&
        Prop(indexRanges(driverWh) == indexRanges(sparkWh)).label(
          s"index ranges differ: driver ${indexRanges(driverWh)}, spark ${indexRanges(sparkWh)}")
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(result.passed, result.status.toString)
  }

  /** Effective runs of `rule` so far in this JVM, from the rule executor's
    * meter (its per-rule counts are public only through this dump). */
  private def effectiveRuns(rule: String): Long = {
    val line = s"""^${java.util.regex.Pattern.quote(rule)}\\s+\\d+ / \\d+\\s+(\\d+) / \\d+\\s*$$""".r
    RuleExecutor.dumpTimeSpent().linesIterator
      .collectFirst { case line(n) => n.toLong }.getOrElse(0L)
  }

  test("a reused 10k local frame appends with no job, compile or ConvertToLocalRelation") {
    val sc = spark.sparkContext
    val rule = ConvertToLocalRelation.ruleName
    Seq(true, false).foreach { withTs =>
      val columns = Seq("ord", "value", "key") ++ (if (withTs) Seq("ts") else Nil)
      val schema = StructType(columns.map(c => full.fields(full.fieldIndex(c))))
      val rows = (0 until 10000).map { i =>
        val r = Map("ord" -> i.toLong, "value" -> s"value-$i", "key" -> s"key-${i % 997}",
          "ts" -> (1700000000000L + i))
        Row.fromSeq(columns.map(r))
      }
      val df = spark.createDataFrame(rows.asJava, schema)
      val wh = Warehouse(tmpDir("graft-route-steady"))
      TopicCatalog.createTopic(spark, wh, "t", 4)
      // the first append compiles the route's projection once
      LogWriter.append(spark, wh, "t", df, "ord")
      (1 to 3).foreach { i =>
        val runs = effectiveRuns(rule)
        val (res, js) = JobStats.measure(sc)(LogWriter.append(spark, wh, "t", df, "ord"))
        assert(res.records === 10000L)
        assert((js.jobs, js.compiles) === ((0, 0L)),
          s"ts=$withTs append $i: ${js.records.map(_.site).mkString(", ")}")
        assert(effectiveRuns(rule) === runs, s"ts=$withTs append $i ran $rule")
      }
      assert(LogReader.scan(spark, wh, "t").count() === 40000L)
    }
  }
}
