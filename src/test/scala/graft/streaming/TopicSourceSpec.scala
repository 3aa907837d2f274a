package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.SparkSpec
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogRetention, LogWriter}

/** Pins the replay, admission and lag contracts of [[TopicSource]], the
  * source under [[StreamIngest.consume]]:
  *
  *   - a batch's range is the offset log's `[start, end)`; a replay (same
  *     batchId) re-reads that range even after the log has grown — never
  *     a superset — and the next batch starts where it ended;
  *   - `maxPerPartition` caps one batch, the remainder waits;
  *   - a batch whose files expire before it is read returns the retained
  *     rows, and a batch starts at the first readable offset;
  *   - progress carries start, end and latest offsets per partition;
  *   - a checkpoint of the earlier trigger-counter consumer is refused.
  */
class TopicSourceSpec extends SparkSpec {

  private def records(n: Int, from: Int = 0) = {
    import spark.implicits._
    (from until from + n)
      .map(i => (i.toLong, s"k$i", s"v$i"))
      .toDF("ts", "key", "value")
      .withColumn("id", col("ts"))
  }

  private type Delivered = TrieMap[Long, Seq[(Int, Long)]]

  private def rows(df: DataFrame): Seq[(Int, Long)] =
    df.select("partition", "offset").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  /** One `consumeAvailableNow` run that records each batch into `into`;
    * `crash` makes the sink throw after recording. */
  private def drain(wh: Warehouse, ckpt: String, into: Delivered,
      max: Long = Long.MaxValue, crash: Boolean = false) = {
    val q = StreamIngest.consumeAvailableNow(spark, wh, "t", ckpt, max) { (df, id) =>
      into.put(id, rows(df))
      if (crash) throw new RuntimeException("injected sink failure")
    }
    val failed =
      try { assert(q.awaitTermination(60000), "drain must terminate"); false }
      catch { case _: StreamingQueryException => true }
    assert(failed === crash)
    q
  }

  private def ends(rs: Seq[(Int, Long)]): Map[Int, Long] =
    rs.groupBy(_._1).map { case (p, os) => p -> (os.map(_._2).max + 1) }

  test("a replayed batch re-reads its pinned range after the log grows") {
    val wh = Warehouse(tmpDir("graft-source"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    val ckpt = tmpDir("graft-source-ckpt")
    val got: Delivered = TrieMap.empty
    // batches 0..2: append 10, drain, repeat — each batch starts exactly
    // where the previous ended, per partition
    var prevEnd = Map.empty[Int, Long]
    (0 to 2).foreach { id =>
      LogWriter.append(spark, wh, "t", records(10, from = id * 10), "id")
      drain(wh, ckpt, got)
      val b = got(id.toLong)
      assert(b.size === 10, s"batch $id bite")
      b.groupBy(_._1).foreach { case (p, os) =>
        assert(os.map(_._2).min === prevEnd.getOrElse(p, 0L), s"batch $id partition $p continues")
      }
      prevEnd = prevEnd ++ ends(b)
    }
    // batch 3 is delivered, then the sink fails before the engine commits
    LogWriter.append(spark, wh, "t", records(10, from = 30), "id")
    val crashed: Delivered = TrieMap.empty
    drain(wh, ckpt, crashed, crash = true)
    assert(crashed.keySet === Set(3L))
    // the log grows; the restart replays batch 3 with its PINNED range,
    // not the grown high-water mark, then one batch delivers the rest
    LogWriter.append(spark, wh, "t", records(40, from = 40), "id")
    val resumed: Delivered = TrieMap.empty
    drain(wh, ckpt, resumed)
    assert(resumed.keySet === Set(3L, 4L))
    assert(resumed(3L).sorted === crashed(3L).sorted)
    assert(resumed(4L).size === 40)
    val pinnedEnd = prevEnd ++ ends(crashed(3L))
    resumed(4L).groupBy(_._1).foreach { case (p, os) =>
      assert(os.map(_._2).min === pinnedEnd(p), s"p$p continues after the replay")
    }
    assert(!Files.exists(Paths.get(ckpt, "graft-offset-ranges")))
  }

  test("maxPerPartition caps one batch; the remainder waits") {
    val wh = Warehouse(tmpDir("graft-source-cap"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t",
      records(30).withColumn("explicit_partition", lit(0)), "id")
    val ckpt = tmpDir("graft-source-cap-ckpt")
    val got: Delivered = TrieMap.empty
    (0 until 4).foreach(_ => drain(wh, ckpt, got, max = 12L))
    def range(id: Long) = got(id).map(_._2).sorted
    assert(got.keySet === Set(0L, 1L, 2L), "the fourth drain has nothing to deliver")
    assert(range(0L) === (0L until 12L))
    assert(range(1L) === (12L until 24L))
    assert(range(2L) === (24L until 30L), "saturates at the committed end")
  }

  test("a lagging batch across a live expiry returns the retained rows") {
    // the streaming twin of RetentionSpec's stale-scan test: a batch whose
    // range and file list resolved before an expiry gets the retained
    // suffix of its range, not a mid-batch crash — Kafka's
    // out-of-range-falls-to-earliest shape
    val wh = Warehouse(tmpDir("graft-source-lag"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, "t",
        records(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    val seen = TrieMap.empty[Long, (Int, Long, Long)]
    val q = StreamIngest.consumeAvailableNow(spark, wh, "t", tmpDir("graft-source-lag-ckpt")) {
      (df, id) =>
        val expired = LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L)).size
        seen.put(id, (expired, df.count(), df.agg(min("offset")).head().getLong(0))): Unit
    }
    assert(q.awaitTermination(60000))
    assert(seen.toMap === Map(0L -> ((2, 200L, 200L))))
  }

  test("a capped first batch starts at the first readable offset") {
    val wh = Warehouse(tmpDir("graft-source-expired"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, "t",
        records(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    // expiry drops whole files below the watermark: [200, 400) stays
    LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L))
    val got: Delivered = TrieMap.empty
    drain(wh, tmpDir("graft-source-expired-ckpt"), got, max = 50L)
    assert(got.keySet === Set(0L))
    assert(got(0L).map(_._2).sorted === (200L until 250L))
  }

  test("progress carries start, end and latest offsets; lag = latest - end") {
    val wh = Warehouse(tmpDir("graft-source-progress"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t",
      records(100).withColumn("explicit_partition", col("id").mod(2).cast("int")), "id")
    val ckpt = tmpDir("graft-source-progress-ckpt")
    def offsets(json: String): Map[Int, Long] =
      if (json == null) Map.empty
      else """"(\d+)":(\d+)""".r.findAllMatchIn(json)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
    (1 to 2).foreach { k =>
      val got: Delivered = TrieMap.empty
      val q = drain(wh, ckpt, got, max = 20L)
      val data = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      assert(data.length === 1)
      val src = data.head.sources.head
      val (start, end, latest) =
        (offsets(src.startOffset), offsets(src.endOffset), offsets(src.latestOffset))
      assert(start === (if (k == 1) Map.empty else Map(0 -> 20L, 1 -> 20L)))
      assert(end === Map(0 -> 20L * k, 1 -> 20L * k))
      assert(latest === Map(0 -> 50L, 1 -> 50L))
      assert(latest.map { case (p, n) => n - end(p) }.sum === 100L - 40L * k,
        "lag = the records not yet delivered")
      // the batch's record count is end - start (numInputRows counts the
      // rows its scans read from whole files, once per read of the frame)
      assert(end.map { case (p, n) => n - start.getOrElse(p, 0L) }.sum ===
        got.values.map(_.size).sum)
    }
  }

  test("a checkpoint of the trigger-counter consumer is refused by name") {
    // the layout the earlier zero-row source left: its offset is a bare
    // trigger counter
    val wh = Warehouse(tmpDir("graft-source-legacy"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t", records(5), "id")
    val ckpt = tmpDir("graft-source-legacy-ckpt")
    Files.createDirectories(Paths.get(ckpt, "offsets"))
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Files.write(Paths.get(ckpt, "offsets", "0"),
      "v1\n{\"batchWatermarkMs\":0,\"batchTimestampMs\":0,\"conf\":{}}\n1".getBytes(UTF_8))
    Files.write(Paths.get(ckpt, "commits", "0"),
      "v1\n{\"nextBatchWatermarkMs\":0}".getBytes(UTF_8))
    Files.write(Paths.get(ckpt, "metadata"),
      "{\"id\":\"d4c6af46-c787-4a0c-8292-7a3545db2ce2\"}".getBytes(UTF_8))
    val q = StreamIngest.consumeAvailableNow(spark, wh, "t", ckpt)((_, _) => ())
    val e = intercept[StreamingQueryException](q.awaitTermination(60000))
    assert(e.getMessage.contains(ckpt) && e.getMessage.contains("earlier version"),
      e.getMessage)
  }
}
