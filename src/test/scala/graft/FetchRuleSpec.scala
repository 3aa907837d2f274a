package graft

import graft.core.ProducerConfig
import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.{ConsumerGroup, Negotiation}
import graft.core.log.{LogIndex, LogReader, LogRetention, LogWriter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop}
import scala.jdk.CollectionConverters._

/** Every consumer decides where to read by one rule,
  * [[LogIndex.fetchRanges]] over [[LogIndex.bounds]]. This property
  * generates appends over a few partitions, expires a generated prefix of
  * each, and drains the topic with one group member that polls at most
  * `m` records per partition and commits. It requires that the member
  * delivers every retained row exactly once, that no poll before it has
  * caught up comes back empty, that lag after each commit is the retained
  * records not yet delivered, and that the admin offsets are the bounds —
  * and the bounds what the log holds. */
class FetchRuleSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false),
    StructField("explicit_partition", IntegerType, nullable = false)))

  /** Appends (each a partition per record) with a file cap, expiry
    * watermarks per partition and the poll cap. */
  private final case class Case(
      partitions: Int, appends: Seq[Seq[Int]], maxPerFile: Long,
      expireBefore: Map[Int, Long], m: Long)

  private val genCase: Gen[Case] = for {
    partitions <- Gen.choose(1, 3)
    k <- Gen.choose(1, 3)
    appends <- Gen.listOfN(k, Gen.choose(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, partitions - 1))))
    maxPerFile <- Gen.oneOf(3L, 7L, 5000000L)
    watermarks <- Gen.listOfN(partitions, Gen.frequency(
      2 -> Gen.const(0L), 3 -> Gen.choose(1L, 30L), 1 -> Gen.const(1000L)))
    m <- Gen.choose(1L, 12L)
  } yield Case(partitions, appends, maxPerFile, watermarks.zipWithIndex.map(_.swap).toMap, m)

  private def check(c: Case): Prop = {
    val wh = Warehouse(tmpDir("graft-fetch-rule"))
    TopicCatalog.createTopic(spark, wh, "t", c.partitions)
    var id = 0L
    c.appends.foreach { parts =>
      val rows = parts.map { p => id += 1; Row(id, id, s"k$id", s"v$id", p) }
      LogWriter.append(spark, wh, "t", spark.createDataFrame(rows.asJava, schema), "id",
        conf = ProducerConfig(maxRecordsPerFile = c.maxPerFile))
    }
    LogRetention.expireBefore(spark, wh, "t", c.expireBefore)
    val retained = LogReader.scan(spark, wh, "t").select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val appended = c.appends.flatten.groupBy(identity).map { case (p, rs) => p -> rs.size.toLong }

    // the bounds are what the log holds, and the admin calls report them
    val bounds = LogIndex.bounds(LogIndex.entries(spark, wh, "t"))
    val modelBounds = appended.map { case (p, n) =>
      val kept = retained.filter(_._1 == p).map(_._2)
      p -> LogIndex.Bounds(if (kept.isEmpty) n else kept.min, n)
    }
    val all = 0 until c.partitions
    val described = Admin.describeTopic(spark, wh, "t").collect()
      .map(r => r.getInt(0) -> LogIndex.Bounds(r.getLong(3), r.getLong(4) + 1)).toMap
    val boundsProp =
      Prop(bounds == modelBounds).label(s"bounds $bounds, log $modelBounds") &&
        Prop(Admin.beginningOffsets(spark, wh, "t") ==
          all.map(p => p -> bounds.get(p).fold(0L)(_.first)).toMap).label("beginningOffsets") &&
        Prop(Admin.endOffsets(spark, wh, "t") ==
          all.map(p => p -> bounds.get(p).fold(0L)(_.next)).toMap).label("endOffsets") &&
        Prop(described == bounds).label(s"describeTopic $described")

    // drain: poll, commit, until a poll comes back empty
    val Seq(member) = ConsumerGroup.subscribe(spark, wh, "g",
      Seq(Negotiation.Member("m", Seq("range"))), Seq("t"))
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    def owed: Map[Int, Long] = all.map(p =>
      p -> (retained.count(_._1 == p) - delivered.count(_._1 == p)).toLong).toMap
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    if (Admin.consumerLag(spark, wh, "g", "t") != owed)
      failures += s"lag before any commit ${Admin.consumerLag(spark, wh, "g", "t")}, owed $owed"
    var polls = 0
    var caughtUp = false
    while (!caughtUp && polls <= retained.size) {
      val before = owed
      val (df, next) = ConsumerGroup.poll(spark, wh, "g", member, "t", c.m)
      val got = df.select("partition", "offset").collect().map(r => (r.getInt(0), r.getLong(1)))
      polls += 1
      if (got.isEmpty) {
        caughtUp = true
        if (before.values.exists(_ > 0)) failures += s"poll $polls empty while owed $before"
      } else {
        delivered ++= got
        ConsumerGroup.commit(spark, wh, "g", "t", next)
        val lag = Admin.consumerLag(spark, wh, "g", "t")
        if (lag != owed) failures += s"after poll $polls: lag $lag, owed $owed"
      }
    }
    boundsProp &&
      Prop(caughtUp).label(s"no empty poll after $polls polls") &&
      Prop(delivered.distinct.size == delivered.size).label("a row delivered twice") &&
      Prop(delivered.toSet == retained.toSet).label(
        s"delivered ${delivered.size} rows, retained ${retained.size}") &&
      Prop(failures.isEmpty).label(failures.mkString("; "))
  }

  test("group polls deliver every retained row once; lag and admin offsets follow the bounds") {
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAllNoShrink(genCase)(check))
    assert(result.passed, result.status.toString)
  }
}
