package graft

import graft.core._
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.AssignmentCodec
import graft.core.log.{LogIndex, LogReader, LogRetention, LogWriter}
import org.apache.spark.sql.functions._

class RetentionSpec extends SparkSpec {
  import spark.implicits._

  def recs(n: Int, from: Int = 0, key: Int => String = i => s"k${i % 5}") =
    (from until from + n).map(i => (i.toLong, 1700000000000L + i, key(i), s"v$i"))
      .toDF("id", "ts", "key", "value")

  test("retention drops whole expired files, keeps offsets dense above watermark") {
    val wh = Warehouse(tmpDir("graft-ret"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, "t",
        recs(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    assert(LogIndex.entries(spark, wh, "t").length === 4)
    val dropped = LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L))
    // files covering [0,99] and [100,199] go; [200,299] straddles -> kept
    assert(dropped.size === 2)
    val left = LogReader.scan(spark, wh, "t")
    assert(left.count() === 200)
    assert(left.agg(min("offset")).head().getLong(0) === 200L)
    // expired offsets are unreadable, later polls still work
    assert(LogReader.poll(spark, wh, "t", 0, 0, 50).count() === 0)
    assert(LogReader.poll(spark, wh, "t", 0, 350, 10).count() === 10)
    // appends continue from the committed end, not the retained start
    val r = LogWriter.append(spark, wh, "t",
      recs(10, from = 400).withColumn("explicit_partition", lit(0)), "id")
    assert(r.ranges(0)._1 === 400L)
  }

  test("a scan resolved BEFORE an expiry returns the post-expiry log, not a crash") {
    // the retention race: expiry swaps the index then DELETES data files;
    // a reader whose file list resolved pre-swap holds references to
    // files that are gone by the time its tasks run. Kafka semantics:
    // the fetch returns what is still retained (expiry is prefix-only,
    // whole-file), it does not fail the reader.
    val wh = Warehouse(tmpDir("graft-race"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, "t",
        recs(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    // resolve BOTH read shapes against the pre-expiry file set
    val staleScan = LogReader.scan(spark, wh, "t")
    val stalePoll = LogReader.poll(spark, wh, "t", 0, 0, 400)
    assert(LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L)).size === 2)
    // executing the stale plans must skip the vanished prefix files and
    // return exactly the retained suffix
    assert(staleScan.count() === 200)
    assert(staleScan.agg(min("offset")).head().getLong(0) === 200L)
    assert(stalePoll.count() === 200)
    // a FRESH read after expiry sees the same retained suffix
    assert(LogReader.scan(spark, wh, "t").count() === 200)
  }

  test("retryOnceOnVanished retries exactly once on a vanished path, propagates other errors") {
    var calls = 0
    val out = LogReader.retryOnceOnVanished {
      calls += 1
      if (calls == 1) // a real PATH_NOT_FOUND AnalysisException
        spark.read.schema("x LONG").parquet(tmpDir("gone") + "/missing").count()
      42L
    }
    assert(out === 42L && calls === 2)
    var calls2 = 0
    intercept[IllegalStateException] {
      LogReader.retryOnceOnVanished { calls2 += 1; throw new IllegalStateException("boom") }
    }
    assert(calls2 === 1)
  }

  test("isVanishedPath matches the error class; message text is only a classless fallback") {
    // the real thing: Spark 4 stamps PATH_NOT_FOUND on the exception
    val real = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.schema("x LONG").parquet(tmpDir("gone-cls") + "/missing").count()
    }
    assert(real.getCondition === "PATH_NOT_FOUND", "Spark stamps the class")
    assert(LogReader.isVanishedPath(real))
    // a DIFFERENT stamped class never classifies as vanished, even if a
    // future message rewording happened to contain the magic words
    val other = new org.apache.spark.sql.AnalysisException(
      "[TABLE_OR_VIEW_NOT_FOUND] path does not exist (but class says table)",
      None, None, None, Some("TABLE_OR_VIEW_NOT_FOUND"),
      Map.empty[String, String], Array.empty[org.apache.spark.QueryContext])
    assert(other.getCondition === "TABLE_OR_VIEW_NOT_FOUND")
    assert(!LogReader.isVanishedPath(other))
    // classless exception (e.g. a wrapped filesystem error): the message
    // fallback still classifies
    val classless = new org.apache.spark.sql.AnalysisException(
      "Path does not exist: file:/gone", None, None, None, None,
      Map.empty[String, String], Array.empty[org.apache.spark.QueryContext])
    assert(classless.getCondition === null || classless.getCondition.isEmpty)
    assert(LogReader.isVanishedPath(classless))
    val unrelated = new org.apache.spark.sql.AnalysisException(
      "something else broke", None, None, None, None,
      Map.empty[String, String], Array.empty[org.apache.spark.QueryContext])
    assert(!LogReader.isVanishedPath(unrelated))
  }

  test("compaction keeps the latest record per key, preserves offsets") {
    val wh = Warehouse(tmpDir("graft-compact"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t", recs(100), "id")
    LogWriter.append(spark, wh, "t", recs(100, from = 100), "id")
    LogRetention.compact(spark, wh, "t")
    val after = LogReader.scan(spark, wh, "t")
    // 5 distinct keys; each survives once per partition it appears in
    val perKey = after.groupBy("key").count().collect()
    assert(after.count() === perKey.map(_.getLong(1)).sum)
    perKey.foreach(r => assert(r.getLong(1) >= 1))
    // survivor for k0 is the LAST write (id 195 -> value v195)
    val k0 = after.filter($"key" === "k0").orderBy($"offset".desc).head()
    assert(k0.getAs[String]("value") === "v195")
    // offsets preserved (max survivor offset = old max offset of that partition)
    val oldEnds = Map(0 -> 195L) // not asserted exactly; offsets must be a subset
    val offs = after.select("partition", "offset").as[(Int, Long)].collect()
    assert(offs.distinct.length === offs.length)
  }

  test("deleteTopic removes catalog, index, and data; other topics untouched") {
    val wh = Warehouse(tmpDir("graft-del"))
    TopicCatalog.createTopic(spark, wh, "keepme", 2)
    TopicCatalog.createTopic(spark, wh, "dropme", 2)
    LogWriter.append(spark, wh, "keepme", recs(50), "id")
    LogWriter.append(spark, wh, "dropme", recs(50), "id")
    TopicCatalog.deleteTopic(spark, wh, "dropme")
    assert(!TopicCatalog.exists(spark, wh, "dropme"))
    assert(TopicCatalog.exists(spark, wh, "keepme"))
    assert(LogReader.scan(spark, wh, "keepme").count() === 50)
    assert(LogIndex.entries(spark, wh, "dropme").length === 0)
    intercept[UnknownTopicException] {
      TopicCatalog.deleteTopic(spark, wh, "dropme")
    }
  }

  test("expiring a partition's last file preserves the high-watermark") {
    val wh = Warehouse(tmpDir("graft-hwm"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t",
      recs(100).withColumn("explicit_partition", lit(0)), "id")
    val dropped = LogRetention.expireBefore(spark, wh, "t", Map(0 -> 1000L))
    assert(dropped.nonEmpty)
    assert(LogReader.scan(spark, wh, "t").count() === 0)
    // next offset survives via the tombstone: appends continue at 100, not 0
    assert(LogIndex.nextOffsets(spark, wh, "t") === Map(0 -> 100L))
    val r = LogWriter.append(spark, wh, "t",
      recs(10, from = 500).withColumn("explicit_partition", lit(0)), "id")
    assert(r.ranges(0)._1 === 100L)
    assert(LogReader.poll(spark, wh, "t", 0, 100, 10).count() === 10)
    // compaction keeps the tombstone of the still-empty partition? no —
    // partition 0 has data again, so the watermark rides on the data rows
    LogRetention.compact(spark, wh, "t")
    assert(LogIndex.nextOffsets(spark, wh, "t") === Map(0 -> 110L))
  }

  test("compaction of a fully-expired topic keeps tombstones (offsets stay monotonic)") {
    val wh = Warehouse(tmpDir("graft-hwm2"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t",
      recs(50).withColumn("explicit_partition", lit(0)), "id")
    LogRetention.expireBefore(spark, wh, "t", Map(0 -> 100L))
    LogRetention.compact(spark, wh, "t") // nothing to compact; must not lose the hwm
    assert(LogIndex.nextOffsets(spark, wh, "t") === Map(0 -> 50L))
  }

  test("assignment codec round-trips the reference wire format") {
    val a = Map(
      "m1" -> Map("topicA" -> Seq(0, 1, 2), "topicB" -> Seq(4)),
      "m2" -> Map("topicA" -> Seq(3)),
      "m3" -> Map.empty[String, Seq[Int]])
    val enc = AssignmentCodec.encode(a)
    assert(enc === "m1:topicA=0,1,2;topicB=4||m2:topicA=3||m3:")
    assert(AssignmentCodec.decode(enc) === a)
    assert(AssignmentCodec.decode("") === Map.empty)
  }

  test("vacuum removes crashed appends' orphans, keeps every committed file") {
    val wh = Warehouse(tmpDir("graft-vac"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t", recs(100), "id")
    // manufacture a crashed append: an unindexed data file in a live
    // partition dir + a leftover staging dir
    val p0 = new java.io.File(s"${wh.logDir("t")}/partition=0")
    val orphan = new java.io.File(p0, "part-orphan-deadbeef.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val staging = new java.io.File(s"${wh.logDir("t")}/.staging-dead")
    staging.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staging, "part-x.parquet").toPath, Array[Byte](4))
    // crashed index-delta staging for THIS topic, plus another topic's that
    // must survive (prefix cannot bleed across topic names)
    val deadDelta = new java.io.File(s"${wh.indexBase}/.delta=t=deadbeef0000")
    deadDelta.mkdirs()
    val otherDelta = new java.io.File(s"${wh.indexBase}/.delta=t2=cafecafe0000")
    otherDelta.mkdirs()
    val before = LogReader.scan(spark, wh, "t").count()
    val deleted = LogRetention.vacuum(spark, wh, "t")
    assert(deleted.exists(_.contains("part-orphan-deadbeef")), s"orphan swept: $deleted")
    assert(deleted.exists(_.contains(".staging-dead")), "staging dir swept")
    assert(!orphan.exists() && !staging.exists())
    assert(!deadDelta.exists(), "this topic's crashed delta staging swept")
    assert(otherDelta.exists(), "other topics' staging untouched")
    otherDelta.delete()
    assert(LogReader.scan(spark, wh, "t").count() === before, "committed data intact")
    // vacuum after the fact is a no-op
    assert(LogRetention.vacuum(spark, wh, "t") === Seq.empty)
  }

  test("time-based retention (retention.ms): drops files fully outside the window") {
    val wh = Warehouse(tmpDir("graft-tret"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i => // ts = 1700000000000 + i, 100 records/file
      LogWriter.append(spark, wh, "t",
        recs(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    // window keeps ts >= base+250: files [0,99] and [100,199] are fully
    // older; [200,299] straddles and is kept whole (file-aligned, like
    // Kafka's segment-granularity retention.ms)
    val dropped = LogRetention.expireOlderThan(spark, wh, "t",
      retentionMs = 1000, nowMs = 1700000000000L + 250 + 1000)
    assert(dropped.size === 2)
    val left = LogReader.scan(spark, wh, "t")
    assert(left.count() === 200)
    assert(left.agg(min("offset")).head().getLong(0) === 200L)
    // a window past every record expires everything, watermark preserved
    val all = LogRetention.expireOlderThan(spark, wh, "t",
      retentionMs = 1, nowMs = 1700000000000L + 10000)
    assert(all.nonEmpty)
    assert(LogReader.scan(spark, wh, "t").count() === 0)
    assert(LogIndex.nextOffsets(spark, wh, "t") === Map(0 -> 400L))
  }

  test("beginning/end offsets and consumer lag track retention and commits") {
    import graft.core.admin.Admin
    import graft.core.groups.ConsumerGroup
    val wh = Warehouse(tmpDir("graft-lag"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, "t",
        recs(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    assert(Admin.endOffsets(spark, wh, "t") === Map(0 -> 400L))
    assert(Admin.beginningOffsets(spark, wh, "t") === Map(0 -> 0L))
    // a group with no commits owes everything readable
    assert(Admin.consumerLag(spark, wh, "g", "t") === Map(0 -> 400L))
    ConsumerGroup.commit(spark, wh, "g", "t", Map(0 -> 150L))
    assert(Admin.consumerLag(spark, wh, "g", "t") === Map(0 -> 250L))
    // retention raises the beginning; committed groups' lag is unchanged
    LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L))
    assert(Admin.beginningOffsets(spark, wh, "t") === Map(0 -> 200L))
    assert(Admin.consumerLag(spark, wh, "g", "t") === Map(0 -> 250L))
    // fully expired partition: beginning == end, a fresh group owes nothing
    LogRetention.expireBefore(spark, wh, "t", Map(0 -> 1000L))
    assert(Admin.beginningOffsets(spark, wh, "t") === Map(0 -> 400L))
    assert(Admin.endOffsets(spark, wh, "t") === Map(0 -> 400L))
    assert(Admin.consumerLag(spark, wh, "g2", "t") === Map(0 -> 0L))
    // never-appended partitions report 0/0/0, they do not vanish from the maps
    TopicCatalog.createTopic(spark, wh, "t2", 3)
    LogWriter.append(spark, wh, "t2",
      recs(10).withColumn("explicit_partition", lit(0)), "id")
    assert(Admin.endOffsets(spark, wh, "t2") === Map(0 -> 10L, 1 -> 0L, 2 -> 0L))
    assert(Admin.beginningOffsets(spark, wh, "t2") === Map(0 -> 0L, 1 -> 0L, 2 -> 0L))
    assert(Admin.consumerLag(spark, wh, "g", "t2") === Map(0 -> 10L, 1 -> 0L, 2 -> 0L))
  }

  test("offsetsForTimes: earliest offset at-or-after a timestamp, per partition") {
    val wh = Warehouse(tmpDir("graft-ofttimes"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t", recs(100), "id") // ts = 1700000000000 + i
    val thr = 1700000000000L + 60
    val got = LogReader.offsetsForTimes(spark, wh, "t", thr)
    // ground truth from the committed log itself
    val expected = LogReader.scan(spark, wh, "t")
      .filter($"ts" >= thr)
      .groupBy($"partition").agg(min("offset").as("o"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // a threshold past every record yields no entries
    assert(LogReader.offsetsForTimes(spark, wh, "t", 1700000000000L + 1000) === Map.empty)
    // a threshold before every record yields offset 0 for both partitions
    assert(LogReader.offsetsForTimes(spark, wh, "t", 0L) === Map(0 -> 0L, 1 -> 0L))
  }

  test("heal installs a fully-written rewrite after a crash between swap renames") {
    val wh = Warehouse(tmpDir("graft-heal"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t",
      recs(50).withColumn("explicit_partition", lit(0)), "id")
    // simulate a crash mid-replace: live index renamed aside, rewrite fully
    // written (we reuse the live content as the "rewrite"), aside dir present
    val conf = new org.apache.hadoop.conf.Configuration()
    val live = new org.apache.hadoop.fs.Path(wh.indexDir("t"))
    val tmp = new org.apache.hadoop.fs.Path(s"${wh.indexDir("t")}_rewrite")
    val old = new org.apache.hadoop.fs.Path(s"${wh.indexDir("t")}_old")
    val hfs = live.getFileSystem(conf)
    assert(hfs.rename(live, tmp))
    hfs.mkdirs(old)
    // the next unlocked reader heals and sees every record
    assert(LogReader.scan(spark, wh, "t").count() === 50)
    assert(hfs.exists(live) && !hfs.exists(tmp), "rewrite installed as live")
    // the orphaned aside dir is cleared by the next real rewrite
    graft.core.log.LogIndex.compactIndex(spark, wh, "t")
    assert(!hfs.exists(old), "aside dir cleared on the next swap")
    assert(LogReader.scan(spark, wh, "t").count() === 50)
  }

  test("committed() never reads empty during concurrent retention swaps") {
    val wh = Warehouse(tmpDir("graft-committed-race"))
    graft.core.groups.ConsumerGroup.commit(spark, wh, "g", "t", Map(0 -> 5L, 1 -> 9L))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // hammer the shard with snapshot-rewrite-swaps; every sweep opens the
    // transient live-missing window committed() must retry through
    val sweeper = Future {
      var n = 0
      while (!stop.get()) {
        graft.core.groups.ConsumerGroup.retainCommits(spark, wh, retentionMs = Long.MaxValue / 4)
        n += 1
      }
      n
    }
    try {
      (0 until 20).foreach { _ =>
        assert(graft.core.groups.ConsumerGroup.committed(spark, wh, "g", "t") ===
          Map(0 -> 5L, 1 -> 9L),
          "a read racing the swap must heal + retry, never report no-commits")
      }
    } finally stop.set(true)
    assert(Await.result(sweeper, 120.seconds) > 0, "sweeper must have actually swapped")
  }

  test("staged commit of a many-file batch: all files land, offsets dense") {
    val wh = Warehouse(tmpDir("graft-manyfiles"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    // tiny segment size forces ~80 part-files through the parallel rename
    val r = LogWriter.append(spark, wh, "t", recs(2000), "id",
      conf = ProducerConfig(maxRecordsPerFile = 25))
    assert(r.records === 2000)
    assert(LogIndex.entries(spark, wh, "t").length >= 60, "many segments committed")
    val all = LogReader.scan(spark, wh, "t")
    assert(all.count() === 2000)
    val perPart = all.groupBy($"partition")
      .agg(count(lit(1)).as("n"), max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    perPart.foreach { row =>
      assert(row.getLong(3) === row.getLong(1))
      assert(row.getLong(2) === row.getLong(1) - 1)
    }
  }

  test("disjoint declared-partition appends run concurrently; offsets stay dense") {
    val wh = Warehouse(tmpDir("graft-ppart"))
    TopicCatalog.createTopic(spark, wh, "t", 3)
    // structural proof of non-blocking: while partition 0's lock is HELD,
    // an append declared to partition 1 commits without waiting
    val r = graft.core.Locks.withPartitionLocks(wh, "t", Seq(0)) {
      LogWriter.append(spark, wh, "t",
        recs(40).withColumn("explicit_partition", lit(1)), "id",
        partitions = Some(Seq(1)))
    }
    assert(r.ranges.keySet === Set(1))
    assert(r.records === 40)
    // and true concurrency: appends to disjoint declared partitions in parallel,
    // repeated per partition so per-partition bases must be read under lock
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = for (p <- Seq(0, 1, 2); round <- 0 until 2) yield Future {
      LogWriter.append(spark, wh, "t",
        recs(30, from = round * 30).withColumn("explicit_partition", lit(p)), "id",
        partitions = Some(Seq(p)))
    }
    val results = Await.result(Future.sequence(fs), 120.seconds)
    assert(results.map(_.records).sum === 180)
    val all = LogReader.scan(spark, wh, "t")
    val perPart = all.groupBy($"partition")
      .agg(count(lit(1)).as("n"), max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    assert(perPart.length === 3)
    perPart.foreach { r =>
      assert(r.getLong(3) === r.getLong(1), "dense per partition under concurrency")
      assert(r.getLong(2) === r.getLong(1) - 1, "gapless per partition")
    }
  }

  test("append outside the declared partition set is rejected before commit") {
    val wh = Warehouse(tmpDir("graft-ppart-bad"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    intercept[IllegalArgumentException] {
      LogWriter.append(spark, wh, "t",
        recs(10).withColumn("explicit_partition", lit(0)), "id",
        partitions = Some(Seq(1))) // declared 1, routed 0
    }
    assert(LogReader.scan(spark, wh, "t").count() === 0, "nothing committed")
    intercept[IllegalArgumentException] {
      LogWriter.append(spark, wh, "t", recs(10), "id", partitions = Some(Seq(5)))
    }
  }

  test("concurrent appends to one topic serialize; offsets stay dense") {
    val wh = Warehouse(tmpDir("graft-conc"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = (0 until 4).map { i =>
      Future(LogWriter.append(spark, wh, "t", recs(50, from = i * 50), "id"))
    }
    val results = Await.result(Future.sequence(fs), 120.seconds)
    assert(results.map(_.records).sum === 200)
    val all = LogReader.scan(spark, wh, "t")
    assert(all.count() === 200)
    val perPart = all.groupBy($"partition")
      .agg(count(lit(1)).as("n"), max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    perPart.foreach { r =>
      assert(r.getLong(3) === r.getLong(1), "dense under concurrency")
      assert(r.getLong(2) === r.getLong(1) - 1, "gapless under concurrency")
    }
  }
}
