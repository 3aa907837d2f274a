package graft.tools

import org.apache.spark.sql.functions._
import graft.Sessions
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogWriter}

/** End-to-end driveable surface for the log engine: create a topic, ingest a
  * real events table, poll slices back, print what happened. Run with:
  *
  * {{{ sbt "runMain graft.tools.LogDemo [sfDir] [warehouseDir]" }}}
  */
object LogDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val whDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = Sessions.local("graft-demo")

    val wh = Warehouse(whDir)
    println(s"== warehouse: $whDir")

    val topic = TopicCatalog.createTopic(spark, wh, "events", 4, 1)
    println(s"== created topic: $topic")

    val events = graft.queries.Queries.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("long").as("ts"),
        col("user_id").cast("string").as("key"), col("props").as("value"))
    val res = LogWriter.append(spark, wh, "events", events, "event_id")
    println(s"== appended ${res.records} records; per-partition ranges: ${res.ranges.toSeq.sortBy(_._1)}")

    println("== committed end offsets: " +
      LogIndex.nextOffsets(spark, wh, "events").toSeq.sortBy(_._1))

    val polled = LogReader.poll(spark, wh, "events", 0, 5, 8)
    println("== poll(events, p=0, from=5, max=8):")
    polled.show(10, truncate = false)

    val total = LogReader.scan(spark, wh, "events").count()
    println(s"== scan count: $total")
    spark.stop()
  }
}
