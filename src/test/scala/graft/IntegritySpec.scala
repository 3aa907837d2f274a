package graft

import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogRetention, LogWriter}
import org.apache.spark.sql.functions._

/** `Admin.verifyTopic` — the detection surface for the
  * `ignoreMissingFiles` tradeoff (LogReader.segmentFiles): scans/polls
  * racing retention must tolerate vanished files, which means a genuinely
  * LOST mid-log file is silently skipped by every read. verifyTopic is
  * what catches it. */
class IntegritySpec extends SparkSpec {
  import spark.implicits._

  private def recs(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, 1700000000000L + i, s"k${i % 5}", s"v$i"))
      .toDF("id", "ts", "key", "value")

  private def fourFiles(wh: Warehouse, topic: String): Unit = {
    TopicCatalog.createTopic(spark, wh, topic, 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, topic,
        recs(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
  }

  test("healthy topic verifies ok, shallow and deep; prefix expiry stays ok") {
    val wh = Warehouse(tmpDir("graft-integrity-ok"))
    fourFiles(wh, "t")
    assert(Admin.verifyTopic(spark, wh, "t").ok)
    assert(Admin.verifyTopic(spark, wh, "t", deep = true).ok)
    // LEGAL prefix expiry: index rows drop WITH their files — chain still
    // dense above the new watermark, nothing missing
    assert(LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L)).size === 2)
    val r = Admin.verifyTopic(spark, wh, "t", deep = true)
    assert(r.ok, r.summary)
    assert(r.missingFiles.isEmpty && r.indexGaps.isEmpty)
  }

  test("a deleted mid-log file: stale plans silently tolerate it, verifyTopic localizes it") {
    val wh = Warehouse(tmpDir("graft-integrity-hole"))
    fourFiles(wh, "t")
    // resolve read plans BEFORE the loss — the scenario ignoreMissingFiles
    // exists for (reads racing retention) is also the one that MASKS loss
    val staleScan = LogReader.scan(spark, wh, "t")
    val stalePoll = LogReader.poll(spark, wh, "t", 0, 100, 100)
    // delete the file covering [100,199] OUT-OF-BAND (not retention:
    // the index row stays)
    val victim = graft.core.log.LogIndex.entries(spark, wh, "t")
      .filter(e => e.isData && e.baseOffset == 100L)
    assert(victim.length === 1)
    val p = new org.apache.hadoop.fs.Path(victim.head.file)
    assert(p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .delete(p, false))
    // the documented tradeoff: in-flight plans skip the hole SILENTLY —
    // 300 rows, offsets jump 99 -> 200, no error anywhere
    assert(staleScan.count() === 300)
    assert(stalePoll.count() === 0)
    // a FRESH read that intersects the hole is NOT silent: relation
    // creation's existence check throws, the one-shot retry re-reads an
    // UNCHANGED index (this is loss, not expiry — no swap happened) and
    // the second vanish propagates. Loss never masquerades as success
    // for new readers; only already-resolved plans are blind to it.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      LogReader.poll(spark, wh, "t", 0, 100, 100).count()
    }
    assert(LogReader.isVanishedPath(e))
    // ...and verifyTopic localizes WHICH file is gone (a reader's
    // PATH_NOT_FOUND names one path; the report audits the whole topic)
    val r = Admin.verifyTopic(spark, wh, "t")
    assert(!r.ok)
    assert(r.missingFiles === Seq(victim.head.file))
    assert(r.indexGaps.isEmpty, "file loss is not an index gap")
  }

  test("a mid-log INDEX hole (row lost, file present) trips the chain check") {
    val wh = Warehouse(tmpDir("graft-integrity-idxhole"))
    fourFiles(wh, "t")
    val idx = LogIndex.entries(spark, wh, "t")
    val pruned = idx.filterNot(e => e.baseOffset == 100L && e.count > 0)
    graft.core.Locks.withTopicLock(wh, "t", 1) {
      LogIndex.replace(wh, "t", pruned.toSeq)
    }
    val r = Admin.verifyTopic(spark, wh, "t")
    assert(!r.ok)
    assert(r.indexGaps.exists(_.contains("[0,99] -> [200,299]")), r.indexGaps)
    assert(r.missingFiles.isEmpty)
    // the de-indexed file surfaces as an orphan (vacuum's jurisdiction)
    assert(r.orphanFiles.size === 1)
  }

  test("crash-debris orphans are reported but do not fail integrity") {
    val wh = Warehouse(tmpDir("graft-integrity-orphan"))
    fourFiles(wh, "t")
    val p0 = new java.io.File(s"${wh.logDir("t")}/partition=0")
    java.nio.file.Files.write(
      new java.io.File(p0, "part-orphan-cafebabe.parquet").toPath,
      Array[Byte](1, 2, 3))
    val r = Admin.verifyTopic(spark, wh, "t")
    assert(r.ok, r.summary)
    assert(r.orphanFiles.exists(_.contains("part-orphan-cafebabe")))
    // vacuum sweeps it; the report comes back clean
    LogRetention.vacuum(spark, wh, "t")
    assert(Admin.verifyTopic(spark, wh, "t").orphanFiles.isEmpty)
  }

  test("compacted topics verify ok: sparse survivor offsets are not a gap") {
    val wh = Warehouse(tmpDir("graft-integrity-compact"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t", recs(100), "id")
    LogWriter.append(spark, wh, "t", recs(100, from = 100), "id")
    LogRetention.compact(spark, wh, "t")
    val r = Admin.verifyTopic(spark, wh, "t", deep = true)
    assert(r.ok, r.summary)
    // and a truncated compacted file still trips the DEEP count check:
    // rewrite one data file with a subset of its rows
    val e = graft.core.log.LogIndex.entries(spark, wh, "t")
      .filter(_.isData).head
    // read as-is (physical columns only) so the rewritten file keeps the
    // original physical schema — `partition` stays a directory key
    val one = spark.read.parquet(e.file).limit((e.count - 1).toInt)
    val tmp = tmpDir("graft-integrity-trunc") + "/one"
    one.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(e.file)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val rewritten = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(new org.apache.hadoop.fs.Path(e.file), false)
    assert(fs.rename(rewritten, new org.apache.hadoop.fs.Path(e.file)))
    assert(Admin.verifyTopic(spark, wh, "t").ok, "shallow check cannot see truncation")
    val deep = Admin.verifyTopic(spark, wh, "t", deep = true)
    assert(!deep.ok)
    assert(deep.countMismatches.exists(_.contains(s"index=${e.count} disk=${e.count - 1}")),
      deep.countMismatches)
  }

  test("fully-expired partition (hwm tombstone only) verifies ok") {
    val wh = Warehouse(tmpDir("graft-integrity-hwm"))
    fourFiles(wh, "t")
    LogRetention.expireBefore(spark, wh, "t", Map(0 -> 1000L))
    val r = Admin.verifyTopic(spark, wh, "t", deep = true)
    assert(r.ok, r.summary)
  }
}
