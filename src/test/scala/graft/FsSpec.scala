package graft

import java.util.concurrent.{Callable, Executors}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

import graft.core.{Fs, Memo, MetaTable, Schemas}
import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.ConsumerGroup
import graft.core.log.{LogIndex, LogWriter}

/** The shared Hadoop configuration ([[graft.core.Fs]]) is read by every
  * caller on every thread, so nothing may write into it: a library that
  * sets a key on the conf it is handed would leak that key into every
  * other caller's reads and writes. */
class FsSpec extends SparkSpec {
  import spark.implicits._

  private def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def diff(a: Map[String, String], b: Map[String, String]): Seq[String] =
    (a.keySet ++ b.keySet).toSeq.sorted
      .filter(k => a.get(k) != b.get(k))
      .map(k => s"$k: ${a.get(k)} -> ${b.get(k)}")

  private def records(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, 1700000000000L + i, s"k${i % 11}", s"v$i"))
      .toDF("id", "ts", "key", "value")

  test("the shared conf is unchanged by index I/O, append, commit and a deep verify") {
    val wh = Warehouse(tmpDir("graft-fs-conf"))
    TopicCatalog.createTopic(spark, wh, "t", 3)
    // warm-up outside the snapshot: the first Spark write of a JVM loads
    // Hadoop classes that register extra default resources, a one-time
    // reload of every conf that is not a caller's write
    LogWriter.append(spark, wh, "t", records(50), "id")
    val before = entries(Fs.conf)

    val dir = tmpDir("graft-fs-index") + "/t"
    val rows = Seq(Row("t", 0, "f0.parquet", 0L, 9L, 10L, 1L))
    MetaTable.append(dir, Schemas.index, rows)
    assert(MetaTable.read(dir, Schemas.index).toSeq === rows)
    LogWriter.append(spark, wh, "t", records(200, 50), "id")
    val next = LogIndex.nextOffsets(spark, wh, "t")
    ConsumerGroup.commit(spark, wh, "g", "t", next)
    assert(Admin.verifyTopic(spark, wh, "t", deep = true).ok)

    val after = entries(Fs.conf)
    assert(diff(before, after).isEmpty, diff(before, after).mkString("\n"))
    // and nothing wrote into it earlier in this JVM either (a key set once
    // to a constant is invisible to the before/after pair): it still equals
    // a freshly parsed default configuration
    val fresh = entries(new org.apache.hadoop.conf.Configuration())
    assert(diff(fresh, after).isEmpty, diff(fresh, after).mkString("\n"))
  }

  test("8 threads appending to 8 topics all get dense offset ranges") {
    val wh = Warehouse(tmpDir("graft-fs-concurrent"))
    val topics = (0 until 8).map(i => s"c$i")
    topics.foreach(t => TopicCatalog.createTopic(spark, wh, t, 2))
    val appends = 3
    val perAppend = 120
    val pool = Executors.newFixedThreadPool(8)
    val results =
      try topics.map { t =>
        pool.submit(new Callable[Seq[graft.core.log.AppendResult]] {
          def call() = (0 until appends).map(a =>
            LogWriter.append(spark, wh, t, records(perAppend, a * perAppend), "id"))
        })
      }.map(_.get())
      finally pool.shutdown()
    topics.zip(results).foreach { case (t, rs) =>
      assert(rs.map(_.records).sum === appends * perAppend, t)
      rs.flatMap(_.ranges).groupBy(_._1).foreach { case (p, rangesOf) =>
        val sorted = rangesOf.map(_._2).sortBy(_._1)
        assert(sorted.head._1 === 0L, s"$t p$p starts at 0")
        sorted.sliding(2).foreach {
          case Seq(a, b) => assert(b._1 === a._2 + 1, s"$t p$p: $a then $b")
          case _ => ()
        }
      }
      assert(rs.flatMap(_.ranges.values).map { case (lo, hi) => hi - lo + 1 }.sum ===
        appends * perAppend, s"$t ranges cover every record once")
    }
  }

  test("listing a missing or vanished directory is empty, not an error") {
    val dir = tmpDir("graft-fs-vanish")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a"), "x")
    assert(Memo.listing(dir).startsWith("a:1:"))
    assert(Fs.list(new Path(dir)).map(_.getPath.getName).toSeq === Seq("a"))
    Fs(dir).delete(new Path(dir), true)
    assert(Memo.listing(dir) === "")
    assert(Fs.list(new Path(dir)).isEmpty)
    assert(MetaTable.read(dir, Schemas.index).isEmpty)
  }
}
