package graft

import org.apache.spark.sql.functions._

import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.{ConsumerGroup, Negotiation}
import graft.core.log.LogWriter
import graft.streaming.StreamIngest

/** Pins the driver-job count of one streaming-consumer micro-batch: a
  * `consumeAvailableNow` drain whose sink runs one `count()` runs that
  * count's jobs and nothing else. Choosing the batch's range (the offset
  * log, the index read) and building its frame are driver-side, so a
  * change that adds a job per micro-batch — a listing, a schema
  * inference, a metadata read through Spark — fails here while walls
  * look flat. The first drain fills caches and is not pinned.
  *
  * Also pins a steady group poll: one job, and no generated-class compile
  * once the first poll has compiled its plan. */
class ConsumeJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Measured with the zero-row trigger source and with the topic source
    * alike: the sink's one count, whose shuffle-map stage and result stage
    * adaptive execution submits as two jobs. */
  private val MeasuredJobs = 2

  private def records(n: Int, from: Int) =
    (from until from + n).map(i => (i.toLong, s"k$i", s"v$i"))
      .toDF("ts", "key", "value").withColumn("id", col("ts"))

  test("a consumeAvailableNow batch runs only its sink's jobs") {
    val wh = Warehouse(tmpDir("graft-consume-budget"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    val ckpt = tmpDir("graft-consume-budget-ckpt")
    val counts = scala.collection.concurrent.TrieMap.empty[Long, Long]
    def drain(): Unit = {
      val q = StreamIngest.consumeAvailableNow(spark, wh, "t", ckpt) { (df, id) =>
        counts.put(id, df.count()): Unit
      }
      assert(q.awaitTermination(60000), "drain must terminate")
    }
    LogWriter.append(spark, wh, "t", records(40, from = 0), "id")
    drain()
    LogWriter.append(spark, wh, "t", records(60, from = 40), "id")
    val (_, js) = JobStats.measure(spark.sparkContext)(drain())
    assert(counts.toMap === Map(0L -> 40L, 1L -> 60L))
    assert(js.jobs === MeasuredJobs, js.records.map(_.site).mkString(", "))
  }

  test("a steady group poll plus collect runs one job and compiles nothing") {
    val wh = Warehouse(tmpDir("graft-group-poll-budget"))
    TopicCatalog.createTopic(spark, wh, "t", 4)
    LogWriter.append(spark, wh, "t",
      records(40000, from = 0).withColumn("explicit_partition", (col("id") % 4).cast("int")),
      "id")
    val Seq(m) = ConsumerGroup.subscribe(spark, wh, "g",
      Seq(Negotiation.Member("m", Seq("range"))), Seq("t"))
    def poll() = {
      val (df, next) = ConsumerGroup.poll(spark, wh, "g", m, "t", max = 5000)
      (df.collect().length, next)
    }
    val (first, next) = poll()
    assert(first === 20000)
    ConsumerGroup.commit(spark, wh, "g", "t", next)
    val ((n, _), js) = JobStats.measure(spark.sparkContext)(poll())
    assert(n === 20000)
    assert((js.jobs, js.compiles) === ((1, 0L)), js.records.map(_.site).mkString(", "))
  }
}
