package graft

import graft.core.LivenessConfig
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.{ConsumerGroup, Negotiation}
import graft.core.log.{LogReader, LogWriter}
import graft.streaming.{Liveness, StreamIngest}
import org.apache.spark.sql.functions._

class GroupsStreamingSpec extends SparkSpec {
  import spark.implicits._

  def someRecords(n: Int, from: Int = 0) =
    (from until from + n).map { i =>
      (i.toLong, 1700000000000L + i, s"k${i % 5}", s"v$i")
    }.toDF("id", "ts", "key", "value")

  test("consumer group: subscribe, poll, commit, poll again") {
    val wh = Warehouse(tmpDir("graft-grp"))
    TopicCatalog.createTopic(spark, wh, "t", 4)
    LogWriter.append(spark, wh, "t", someRecords(200), "id")

    val members = Seq(
      Negotiation.Member("m1", Seq("range", "roundrobin")),
      Negotiation.Member("m2", Seq("range")))
    val memberships = ConsumerGroup.subscribe(spark, wh, "g1", members, Seq("t"))
    assert(memberships.map(_.protocol).distinct === Seq("range"))
    val allParts = memberships.flatMap(_.assignment.getOrElse("t", Nil))
    assert(allParts.sorted === Seq(0, 1, 2, 3))

    val m1 = memberships.find(_.memberId == "m1").get
    val (recs1, next1) = ConsumerGroup.poll(spark, wh, "g1", m1, "t", max = 10)
    val n1 = recs1.count()
    assert(n1 > 0 && n1 <= 10 * m1.assignment("t").size)
    ConsumerGroup.commit(spark, wh, "g1", "t", next1)

    // after commit, the same poll returns the NEXT slice (no overlap)
    val (recs2, _) = ConsumerGroup.poll(spark, wh, "g1", m1, "t", max = 10)
    val o1 = recs1.select("partition", "offset").as[(Int, Long)].collect().toSet
    val o2 = recs2.select("partition", "offset").as[(Int, Long)].collect().toSet
    assert(o1.intersect(o2).isEmpty)
    assert(ConsumerGroup.committed(spark, wh, "g1", "t") === next1)
  }

  test("a member committing its polled map never rewinds a peer's partitions") {
    val wh = Warehouse(tmpDir("graft-grp-peer"))
    TopicCatalog.createTopic(spark, wh, "t", 4)
    // distinct keys, so every partition (both members' ranges) holds data
    LogWriter.append(spark, wh, "t",
      someRecords(400).withColumn("key", concat(lit("k"), col("id"))), "id")
    val Seq(a, b) = ConsumerGroup.subscribe(spark, wh, "g", Seq(
      Negotiation.Member("a", Seq("range")),
      Negotiation.Member("b", Seq("range"))), Seq("t")).sortBy(_.memberId)
    def pollCommit(m: ConsumerGroup.Membership): Unit = {
      val (_, next) = ConsumerGroup.poll(spark, wh, "g", m, "t", max = 10)
      ConsumerGroup.commit(spark, wh, "g", "t", next)
    }
    pollCommit(b) // the group's committed map now holds b's partitions
    val (_, aNext) = ConsumerGroup.poll(spark, wh, "g", a, "t", max = 10)
    pollCommit(b)
    val bCommitted = ConsumerGroup.committed(spark, wh, "g", "t")
      .filter { case (p, _) => b.assignment("t").contains(p) }
    ConsumerGroup.commit(spark, wh, "g", "t", aNext)
    val after = ConsumerGroup.committed(spark, wh, "g", "t")
    assert(after.filter { case (p, _) => b.assignment("t").contains(p) } === bCommitted)
    assert(bCommitted === b.assignment("t").map(_ -> 20L).toMap)
    assert(aNext.keySet === a.assignment("t").toSet)
  }

  test("offset-commit retention keeps the latest commit per partition; committed() unchanged") {
    val wh = Warehouse(tmpDir("graft-oret"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    // 3 commit generations per partition
    ConsumerGroup.commit(spark, wh, "g1", "t", Map(0 -> 10L, 1 -> 5L))
    ConsumerGroup.commit(spark, wh, "g1", "t", Map(0 -> 20L, 1 -> 15L))
    ConsumerGroup.commit(spark, wh, "g1", "t", Map(0 -> 30L, 1 -> 25L))
    val before = ConsumerGroup.committed(spark, wh, "g1", "t")
    assert(before === Map(0 -> 30L, 1 -> 25L))
    val dir = s"${wh.root}/_groups/offsets/g1" // per-group shard
    assert(spark.read.schema(ConsumerGroup.offsetsSchema).parquet(dir).count() === 6)
    // horizon in the future: every superseded row is past retention
    ConsumerGroup.retainCommits(spark, wh, retentionMs = 0,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    val rows = spark.read.schema(ConsumerGroup.offsetsSchema).parquet(dir)
    assert(rows.count() === 2, "only the latest commit per partition survives")
    assert(ConsumerGroup.committed(spark, wh, "g1", "t") === before)
    // sweeping an already-swept table is a no-op
    ConsumerGroup.retainCommits(spark, wh, retentionMs = 0,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    assert(ConsumerGroup.committed(spark, wh, "g1", "t") === before)
  }

  test("committed() racing retainCommits swaps returns the pre-sweep map") {
    val wh = Warehouse(tmpDir("graft-sweep-race"))
    (1 to 3).foreach(i =>
      ConsumerGroup.commit(spark, wh, "g", "t", Map(0 -> 10L * i, 1 -> 5L * i)))
    val before = ConsumerGroup.committed(spark, wh, "g", "t")
    assert(before === Map(0 -> 30L, 1 -> 15L))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the first sweep drops the superseded rows, every later one rewrites
    // the same two: each opens the live-missing window between its renames
    val sweeps = Future {
      (0 until 20).foreach(_ => ConsumerGroup.retainCommits(spark, wh, retentionMs = 0,
        nowMs = System.currentTimeMillis() + 3600 * 1000))
    }
    var reads = 0
    while (!sweeps.isCompleted) {
      assert(ConsumerGroup.committed(spark, wh, "g", "t") === before, s"read $reads")
      reads += 1
    }
    Await.result(sweeps, 120.seconds)
    assert(reads > 0, "no read overlapped the sweeps")
    assert(ConsumerGroup.committed(spark, wh, "g", "t") === before)
  }

  test("committed(): heals a crashed swap; a STUCK swap throws, never 'no commits'") {
    val wh = Warehouse(tmpDir("graft-stuckswap"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    ConsumerGroup.commit(spark, wh, "gs", "t", Map(0 -> 42L))
    val dir = new org.apache.hadoop.fs.Path(s"${wh.root}/_groups/offsets/gs")
    val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    // crash between install's two renames: live missing + rewrite present —
    // the read path heals (installs the rewrite) and returns the commits
    val rewrite = new org.apache.hadoop.fs.Path(graft.core.Swap.rewriteDir(dir.toString))
    assert(fs.rename(dir, rewrite))
    assert(ConsumerGroup.committed(spark, wh, "gs", "t") === Map(0 -> 42L))
    // STUCK: live+rewrite missing but _old holds the only copy — heal cannot
    // act, and "no commits" would restart the group from offset 0. Throw.
    val old = new org.apache.hadoop.fs.Path(graft.core.Swap.oldDir(dir.toString))
    assert(fs.rename(dir, old))
    val e = intercept[IllegalStateException] {
      ConsumerGroup.committed(spark, wh, "gs", "t")
    }
    assert(e.getMessage.contains("stuck"))
    // a group with NO commits and no markers still reads as genuinely empty
    assert(ConsumerGroup.committed(spark, wh, "gnever", "t") === Map.empty)
  }

  test("poll(Duration): bounded wait, empty at timeout, data cuts the wait short") {
    val wh = Warehouse(tmpDir("graft-polltime"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    val m = ConsumerGroup.Membership("g", "m1", "range", Map("t" -> Seq(0)))
    // empty topic: the wait is bounded and the result is empty, not an error
    val t0 = System.nanoTime()
    val (empty, _) = ConsumerGroup.pollTimeout(spark, wh, "g", m, "t", 10,
      java.time.Duration.ofMillis(400))
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(empty.count() === 0)
    assert(waitedMs >= 350, s"returned after only $waitedMs ms")
    // data arriving mid-wait unblocks well before the deadline
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    Future {
      Thread.sleep(300)
      LogWriter.append(spark, wh, "t",
        someRecords(20).withColumn("explicit_partition", lit(0)), "id")
    }
    val t1 = System.nanoTime()
    val (got, next) = ConsumerGroup.pollTimeout(spark, wh, "g", m, "t", 50,
      java.time.Duration.ofSeconds(60))
    val unblockMs = (System.nanoTime() - t1) / 1e6
    assert(got.count() === 20)
    assert(next === Map(0 -> 20L))
    assert(unblockMs < 30000, s"long-poll did not unblock on arrival ($unblockMs ms)")
  }

  test("offset commits of unrelated groups run in parallel; same group still excluded") {
    val wh = Warehouse(tmpDir("graft-gshard"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    var pending: Future[Unit] = null
    graft.core.Locks.withLock(wh, "group-offsets-ga") {
      // a DIFFERENT group's commit proceeds while ga's lock is held
      ConsumerGroup.commit(spark, wh, "gb", "t", Map(0 -> 5L))
      assert(ConsumerGroup.committed(spark, wh, "gb", "t") === Map(0 -> 5L))
      // the SAME group's commit must wait for the lock
      pending = Future { ConsumerGroup.commit(spark, wh, "ga", "t", Map(0 -> 7L)) }
      Thread.sleep(1500)
      assert(!pending.isCompleted, "same-group commit must block while its lock is held")
    }
    Await.result(pending, 60.seconds) // lands once the lock is released
    assert(ConsumerGroup.committed(spark, wh, "ga", "t") === Map(0 -> 7L))
    // sweeping retains both groups' latest commits, each under its own lock
    ConsumerGroup.retainCommits(spark, wh, retentionMs = 0,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    assert(ConsumerGroup.committed(spark, wh, "ga", "t") === Map(0 -> 7L))
    assert(ConsumerGroup.committed(spark, wh, "gb", "t") === Map(0 -> 5L))
    // path-unsafe group ids are rejected before touching the warehouse
    intercept[IllegalArgumentException] {
      ConsumerGroup.commit(spark, wh, "bad/group", "t", Map(0 -> 1L))
    }
  }

  test("catalog listener fires with the new snapshot when a change is observed") {
    val wh = Warehouse(tmpDir("graft-obs"))
    TopicCatalog.createTopic(spark, wh, "a", 1)
    assert(TopicCatalog.exists(spark, wh, "a")) // prime the cache
    var seen: Option[Set[String]] = None
    TopicCatalog.addListener(wh, m => seen = Some(m.keySet))
    try {
      // models another client/JVM writing the catalog: the file lands but
      // this process's cache hasn't observed it yet
      TopicCatalog.createTopic(spark, wh, "b", 1)
      // next catalog access detects the fingerprint change -> notifies
      assert(TopicCatalog.numPartitions(spark, wh, "b") === 1)
      assert(seen === Some(Set("a", "b")))
      // no further change -> no further notification
      seen = None
      assert(TopicCatalog.exists(spark, wh, "a"))
      assert(seen === None)
    } finally TopicCatalog.removeListeners(wh)
  }

  test("liveness snapshot: silence kills, heartbeat revives semantics") {
    val cfg = LivenessConfig(heartbeatIntervalMs = 1000, missedThreshold = 3)
    val now = 100000L
    val beats = Seq(
      Liveness.Heartbeat("b1", now - 500, 10, 4),  // fresh
      Liveness.Heartbeat("b1", now - 900, 9, 4),   // older, ignored
      Liveness.Heartbeat("b2", now - 5000, 3, 2),  // silent past 3000ms
      Liveness.Heartbeat("b3", now - 2999, 7, 9)   // just inside
    ).toDS()
    val states = Liveness.snapshot(spark, beats, now, cfg).collect()
      .map(s => s.memberId -> s).toMap
    assert(states("b1").alive && states("b1").lastSeq === 10)
    assert(!states("b2").alive)
    assert(states("b3").alive)
    val least = Liveness.leastLoaded(Liveness.snapshot(spark, beats, now, cfg))
    assert(least === Some("b1")) // b2 dead; b1 load 4 < b3 load 9
  }

  test("liveness transition function: heartbeat, timeout, revival (TestGroupState)") {
    import org.apache.spark.sql.streaming.TestGroupState
    val cfg = LivenessConfig(heartbeatIntervalMs = 1000, missedThreshold = 3)
    // first heartbeat creates alive state
    val s0 = TestGroupState.create[Liveness.MemberState](
      optionalState = org.apache.spark.api.java.Optional.empty[Liveness.MemberState](), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val after1 = Liveness.update(cfg)("b1",
      Iterator(Liveness.Heartbeat("b1", 500L, 1, 4)), s0)
    assert(after1.alive && after1.lastSeq === 1 && after1.revivals === 0)
    assert(after1.directive === Liveness.Directive.None)
    // timeout fires with no data -> marked dead, state retained
    val s1 = TestGroupState.create[Liveness.MemberState](
      optionalState = org.apache.spark.api.java.Optional.of(after1), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 5000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = true)
    val dead = Liveness.update(cfg)("b1", Iterator.empty, s1)
    assert(!dead.alive)
    assert(s1.exists, "state retained for revival")
    // late heartbeat revives and counts the revival (reference :96-99)
    val s2 = TestGroupState.create[Liveness.MemberState](
      optionalState = org.apache.spark.api.java.Optional.of(dead), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 6000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val revived = Liveness.update(cfg)("b1",
      Iterator(Liveness.Heartbeat("b1", 6000L, 2, 4)), s2)
    assert(revived.alive && revived.revivals === 1 && revived.lastSeq === 2)
    // a reviving member is directed to REBALANCE (its assignment may be stale)
    assert(revived.directive === Liveness.Directive.Rebalance)
    // an explicitly pended controller directive overrides and is delivered
    // with the member's next heartbeat (reference HeartbeatSender.java:216-238)
    val s3 = TestGroupState.create[Liveness.MemberState](
      optionalState = org.apache.spark.api.java.Optional.of(revived), timeoutConf = org.apache.spark.sql.streaming
        .GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 7000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val directed = Liveness.update(cfg, Map("b1" -> Liveness.Directive.Shutdown))(
      "b1", Iterator(Liveness.Heartbeat("b1", 7000L, 3, 4)), s3)
    assert(directed.directive === Liveness.Directive.Shutdown)
  }

  test("headers survive the log round-trip in order with duplicate keys") {
    import graft.functions.{HeaderFunctions => H}
    val wh = Warehouse(tmpDir("graft-hdr"))
    TopicCatalog.createTopic(spark, wh, "h", 1)
    val recs = someRecords(10).withColumn("headers",
      H.addHeader(
        H.addHeader(
          H.addHeader(lit(null).cast("array<struct<key:string,value:binary>>"),
            lit("trace"), lit("first")),
          lit("other"), lit("x")),
        lit("trace"), lit("second")))
    LogWriter.append(spark, wh, "h", recs, "id")
    val back = LogReader.scan(spark, wh, "h")
    val last = back.select(H.lastHeader($"headers", "trace").cast("string")).head().getString(0)
    assert(last === "second", "insertion order preserved, lastHeader wins")
    val all = back.select(H.headersFor($"headers", "trace")
      .cast("array<string>")).head().getSeq[String](0)
    assert(all === Seq("first", "second"))
    val count = back.select(H.headerCount($"headers")).head().getInt(0)
    assert(count === 3)
  }

  test("a group polls past expired offsets from the first readable one, then catches up") {
    import graft.core.admin.Admin
    import graft.core.log.LogRetention
    val wh = Warehouse(tmpDir("graft-grp-expired"))
    TopicCatalog.createTopic(spark, wh, "t", 1)
    (0 until 4).foreach { i =>
      LogWriter.append(spark, wh, "t",
        someRecords(100, from = i * 100).withColumn("explicit_partition", lit(0)), "id")
    }
    // expiry drops whole files below the watermark: [200, 400) stays
    LogRetention.expireBefore(spark, wh, "t", Map(0 -> 250L))
    val Seq(m) = ConsumerGroup.subscribe(spark, wh, "g",
      Seq(Negotiation.Member("m", Seq("range"))), Seq("t"))
    assert(Admin.consumerLag(spark, wh, "g", "t") === Map(0 -> 200L))
    val polled = (0 until 5).map { _ =>
      val (df, next) = ConsumerGroup.poll(spark, wh, "g", m, "t", max = 50)
      val offsets = df.select($"offset").as[Long].collect().toSeq
      ConsumerGroup.commit(spark, wh, "g", "t", next)
      offsets
    }
    assert(polled.map(_.size) === Seq(50, 50, 50, 50, 0))
    assert(polled.flatten === (200L until 400L))
    assert(ConsumerGroup.committed(spark, wh, "g", "t") === Map(0 -> 400L))
    assert(Admin.consumerLag(spark, wh, "g", "t") === Map(0 -> 0L))
  }

  test("pollAll spans the member's full multi-topic assignment in one call") {
    val wh = Warehouse(tmpDir("graft-pollall"))
    TopicCatalog.createTopic(spark, wh, "t1", 2)
    TopicCatalog.createTopic(spark, wh, "t2", 1)
    LogWriter.append(spark, wh, "t1", someRecords(40), "id")
    LogWriter.append(spark, wh, "t2", someRecords(10, from = 500), "id")
    val memberships = ConsumerGroup.subscribe(spark, wh, "g",
      Seq(Negotiation.Member("m1", Seq("range"))), Seq("t1", "t2"))
    val m = memberships.head
    assert(m.assignment.keySet === Set("t1", "t2"), "sole member owns both topics")

    val (recs, next) = ConsumerGroup.pollAll(spark, wh, "g", m, max = 100)
    val byTopic = recs.groupBy($"topic").count()
      .as[(String, Long)].collect().toMap
    assert(byTopic === Map("t1" -> 40L, "t2" -> 10L))
    assert(next("t1").values.sum === 40L && next("t2") === Map(0 -> 10L))
    ConsumerGroup.commitAll(spark, wh, "g", next)

    // offsets advance independently: new data lands on t2 only
    LogWriter.append(spark, wh, "t2", someRecords(5, from = 510), "id")
    val (recs2, next2) = ConsumerGroup.pollAll(spark, wh, "g", m, max = 100)
    val byTopic2 = recs2.groupBy($"topic").count()
      .as[(String, Long)].collect().toMap
    assert(byTopic2 === Map("t2" -> 5L), "t1 already consumed; only t2's new slice")
    assert(next2("t1") === next("t1"), "t1 offsets unchanged")
    assert(next2("t2") === Map(0 -> 15L))
  }

  test("streaming consumer delivers the committed records incrementally, resumes from checkpoint") {
    val wh = Warehouse(tmpDir("graft-consume"))
    TopicCatalog.createTopic(spark, wh, "c", 2)
    LogWriter.append(spark, wh, "c", someRecords(80), "id")
    val ckpt = tmpDir("graft-consume-ckpt")
    // keyed by batchId: the foreachBatch contract is idempotent-per-batchId
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Array[(Int, Long)]]
    def total = batches.values.map(_.length).sum
    def waitFor(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (total < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(total === n, s"expected $n records, got $total")
    }
    def sink(into: scala.collection.concurrent.TrieMap[Long, Array[(Int, Long)]]) =
      (df: org.apache.spark.sql.DataFrame, id: Long) =>
        into.put(id, df.select($"partition", $"offset").as[(Int, Long)].collect()): Unit
    val q = StreamIngest.consume(spark, wh, "c", ckpt, triggerMs = 100)(sink(batches))
    try {
      waitFor(80)
      // records appended AFTER the stream started are picked up incrementally
      LogWriter.append(spark, wh, "c", someRecords(20, from = 80), "id")
      waitFor(100)
      // exactly-once: per partition, exactly the dense committed range
      val perPart = batches.values.flatten.groupBy(_._1)
      perPart.foreach { case (p, offs) =>
        val sorted = offs.map(_._2).toSeq.sorted
        assert(sorted === (0L until sorted.length), s"partition $p dense, no dupes")
      }
      assert(perPart.values.map(_.size).sum === 100)
      // stop() racing the ENGINE's commit of the last data batch would make
      // the restart legitimately REPLAY it (the foreachBatch contract) and
      // void the strict only-the-new-slice assertion below — wait until the
      // data batch's entry lands in the checkpoint's commit log
      val commitFile = java.nio.file.Paths.get(ckpt, "commits", batches.keys.max.toString)
      val d2 = System.currentTimeMillis() + 60000
      while (!java.nio.file.Files.exists(commitFile) && System.currentTimeMillis() < d2)
        Thread.sleep(50)
      assert(java.nio.file.Files.exists(commitFile), "the last data batch must commit")
    } finally q.stop()
    // restart from the same checkpoint: only NEW records are delivered
    LogWriter.append(spark, wh, "c", someRecords(30, from = 100), "id")
    val batches2 = scala.collection.concurrent.TrieMap.empty[Long, Array[(Int, Long)]]
    val q2 = StreamIngest.consume(spark, wh, "c", ckpt, triggerMs = 100)(sink(batches2))
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (batches2.values.map(_.length).sum < 30 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(batches2.values.flatten.size === 30, "resume delivers only the new slice")
      assert(batches2.values.flatten.forall { case (_, o) => o >= 40 },
        "no re-delivery of pre-restart offsets")
    } finally q2.stop()
  }

  test("consumeAvailableNow: drains to the call-time high-water mark, then terminates") {
    val wh = Warehouse(tmpDir("graft-drain"))
    TopicCatalog.createTopic(spark, wh, "d", 2)
    LogWriter.append(spark, wh, "d", someRecords(60), "id")
    val ckpt = tmpDir("graft-drain-ckpt")
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Array[(Int, Long)]]
    def sink(into: scala.collection.concurrent.TrieMap[Long, Array[(Int, Long)]]) =
      (df: org.apache.spark.sql.DataFrame, id: Long) =>
        into.put(id, df.select($"partition", $"offset").as[(Int, Long)].collect()): Unit
    // the AvailableNow query STOPS ITSELF once the pulse is consumed — await it
    val q = StreamIngest.consumeAvailableNow(spark, wh, "d", ckpt)(sink(batches))
    assert(q.awaitTermination(60000), "drain query must terminate on its own")
    assert(batches.values.flatten.size === 60, "one drain covers the whole log")
    // continuation: a second drain on the SAME checkpoint delivers only the
    // records appended since — offsets continue, nothing is re-delivered
    LogWriter.append(spark, wh, "d", someRecords(25, from = 60), "id")
    val batches2 = scala.collection.concurrent.TrieMap.empty[Long, Array[(Int, Long)]]
    val q2 = StreamIngest.consumeAvailableNow(spark, wh, "d", ckpt)(sink(batches2))
    assert(q2.awaitTermination(60000))
    assert(batches2.values.flatten.size === 25, "second drain = only the new slice")
    val all = (batches.values.flatten ++ batches2.values.flatten).toSeq
    all.groupBy(_._1).foreach { case (p, offs) =>
      val sorted = offs.map(_._2).sorted
      assert(sorted === (0L until sorted.length), s"partition $p dense, no dupes")
    }
    // nothing new: the drain terminates without invoking the sink at all
    val batches3 = scala.collection.concurrent.TrieMap.empty[Long, Array[(Int, Long)]]
    val q3 = StreamIngest.consumeAvailableNow(spark, wh, "d", ckpt)(sink(batches3))
    assert(q3.awaitTermination(60000))
    assert(batches3.isEmpty, "empty drain must not call the sink")
  }

  test("streaming consumer never emits a crashed append's orphaned unindexed files") {
    val wh = Warehouse(tmpDir("graft-consume-orphan"))
    TopicCatalog.createTopic(spark, wh, "c", 1)
    LogWriter.append(spark, wh, "c",
      someRecords(50).withColumn("explicit_partition", lit(0)), "id")
    // Manufacture a crashed append: a fully-written data file IN the
    // partition dir with NO index row (the crash window between the staged
    // rename and the index commit). Byte source: another topic's real file.
    TopicCatalog.createTopic(spark, wh, "x", 1)
    LogWriter.append(spark, wh, "x",
      someRecords(10, from = 1000).withColumn("explicit_partition", lit(0)), "id")
    val conf = new org.apache.hadoop.conf.Configuration()
    val cDir = new org.apache.hadoop.fs.Path(s"${wh.logDir("c")}/partition=0")
    val xDir = new org.apache.hadoop.fs.Path(s"${wh.logDir("x")}/partition=0")
    val hfs = cDir.getFileSystem(conf)
    val src = hfs.listStatus(xDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    org.apache.hadoop.fs.FileUtil.copy(hfs, src, hfs,
      new org.apache.hadoop.fs.Path(cDir, src.getName), false, conf)
    // the batch reader ignores it (index-pruned) — the standing invariant
    assert(LogReader.scan(spark, wh, "c").count() === 50)
    // ... and the STREAMING consumer must ignore it too (it would emit
    // never-committed records, then the same offsets twice after the retry)
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val q = StreamIngest.consume(spark, wh, "c",
      tmpDir("graft-consume-orphan-ckpt"), triggerMs = 100) { (df, id) =>
      batches.put(id, df.count()): Unit
    }
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (batches.values.sum < 50 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(batches.values.sum === 50)
      Thread.sleep(1000) // several more triggers: the orphan must never surface
      assert(batches.values.sum === 50, "orphaned file must not be emitted")
    } finally q.stop()
  }

  test("streaming windowed agg with watermark drops late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val windowed = input.toDF().toDF("ts", "kind")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"kind")
      .count()
    val q = windowed.writeStream
      .format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append())
      .start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      input.addData((t(0), "a"), (t(1), "a"), (t(6), "b"))
      q.processAllAvailable()
      input.addData((t(30), "a")) // advances watermark to 10:20 -> closes early windows
      q.processAllAvailable()
      input.addData((t(2), "a")) // late beyond watermark: dropped
      input.addData((t(31), "a"))
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .selectExpr("window.start AS s", "kind", "count").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(out.contains(("2024-01-01 10:00:00.0", "a", 2L))) // late (t2,a) NOT counted
      assert(out.contains(("2024-01-01 10:05:00.0", "b", 1L)))
    } finally q.stop()
  }

  test("streaming sessionization: gap-split emits immediately, timeout closes open sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessions
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(String, java.sql.Timestamp, Long)]
    val events = input.toDS().toDF("userId", "ts", "eventId")
      .withWatermark("ts", "0 seconds")
      .as[Sessions.Event]
    val sessions = Sessions.track(spark, events, gapMs = 30 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(("u1", t(10, 0), 1L), ("u1", t(10, 10), 2L), ("u2", t(10, 0), 3L))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0, "sessions still open")
      // u1 event past the gap: closes u1's first session on arrival; the
      // watermark advancing to 12:00 times out u2's silent session
      input.addData(("u1", t(12, 0), 4L))
      q.processAllAvailable()
      input.addData(("u3", t(14, 0), 5L)) // advances watermark -> closes u1@12:00
      q.processAllAvailable()
      val out = spark.table("sessions")
        .selectExpr("userId", "sessionStart", "durationMs", "nEvents").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(out.contains(("u1", t(10, 0).getTime, 10 * 60 * 1000L, 2L)),
        s"u1 first session; got $out")
      assert(out.contains(("u2", t(10, 0).getTime, 0L, 1L)), s"u2 timed out; got $out")
      assert(out.contains(("u1", t(12, 0).getTime, 0L, 1L)), s"u1 second session; got $out")
    } finally q.stop()
  }

  test("session_window built-in agrees with the batch sessionize shape") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val agg = input.toDS().toDF("userId", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy($"userId", session_window($"ts", "30 minutes"))
      .count()
    val q = agg.writeStream.format("memory").queryName("sw")
      .outputMode("append").start()
    try {
      input.addData(("u1", t(10, 0)), ("u1", t(10, 10)), ("u1", t(12, 0)))
      q.processAllAvailable()
      input.addData(("u1", t(14, 0))) // advance watermark, close 12:00 session
      q.processAllAvailable()
      val out = spark.table("sw")
        .selectExpr("userId", "session_window.start AS s", "count").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(out.contains(("u1", t(10, 0), 2L)))
      assert(out.contains(("u1", t(12, 0), 1L)))
    } finally q.stop()
  }

  test("streaming sessionization equals batch qSessionize on real events (sf0.001)") {
    // The continuous operator and the batch window query implement the SAME
    // semantics (30-min gap sessions); replaying the oracle-green batch
    // input through the stream must emit exactly the batch's sessions.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessions
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.queries.Queries.qSessionize(spark, dir)
      .selectExpr("cast(user_id as string)", "session_start", "duration_ms", "n_events")
      .as[(String, Long, Long, Long)].collect().toSet

    val rows = graft.queries.Queries.events(spark, dir)
      .selectExpr("cast(user_id as string) AS userId", "ts div 1000000 AS ts_ms",
        "event_id AS eventId")
      .as[(String, Long, Long)].collect()
    val maxTs = rows.map(_._2).max
    val input = MemoryStream[(String, java.sql.Timestamp, Long)]
    val events = input.toDS().toDF("userId", "ts", "eventId")
      .withWatermark("ts", "0 seconds")
      .as[Sessions.Event]
    val q = Sessions.track(spark, events, gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("sess_eq").outputMode("append").start()
    try {
      // one batch carries every real event (watermark starts at 0 → no drops;
      // the transition sorts within each key)
      input.addData(rows.toSeq.map(r => (r._1, new java.sql.Timestamp(r._2), r._3)))
      q.processAllAvailable()
      // two sentinel batches march the watermark past every real session's
      // last+gap so event-time timeouts flush whatever is still open
      input.addData(("__sentinel__", new java.sql.Timestamp(maxTs + 90 * 60 * 1000), -1L))
      q.processAllAvailable()
      input.addData(("__sentinel__", new java.sql.Timestamp(maxTs + 300 * 60 * 1000), -2L))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq")
        .filter($"userId" =!= "__sentinel__")
        .selectExpr("userId", "sessionStart", "durationMs", "nEvents")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        s"stream-only: ${streamed.diff(batch).take(3)}; batch-only: ${batch.diff(streamed).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join: correlates within the window, watermarks bound state") {
    // the streaming form of qIntervalJoin: clicks and purchases as two
    // unbounded streams, joined on user within a 10-minute window — both
    // sides carry watermarks, so join state is evicted once no future match
    // is possible (the property that makes this runnable forever)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val clicks = MemoryStream[(String, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(String, java.sql.Timestamp, Long)]
    val c = clicks.toDF().toDF("c_user", "c_ts", "click_id").withWatermark("c_ts", "0 seconds")
    val p = purchases.toDF().toDF("p_user", "p_ts", "purchase_id").withWatermark("p_ts", "0 seconds")
    val joined = c.join(p,
      expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes"))
      .select($"click_id", $"purchase_id")
    val q = joined.writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      clicks.addData(("u1", t(10, 0), 1L), ("u2", t(10, 0), 2L))
      purchases.addData(
        ("u1", t(10, 5), 100L), // inside window -> match
        ("u1", t(10, 20), 101L), // outside window -> no match
        ("u3", t(10, 2), 102L)) // no click for u3
      q.processAllAvailable()
      val out = spark.table("ij").as[(Long, Long)].collect().toSet
      assert(out === Set((1L, 100L)), s"got $out")
    } finally q.stop()
  }

  test("streaming dedup: duplicates within the watermark horizon are dropped, state is fingerprint-only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamDedup.dedupWithinWatermark(
      input.toDF().toDF("ts", "text"), col("text"), "ts", "30 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData((t(0), "alpha doc"), (t(1), "alpha doc"), (t(2), "beta doc"))
      q.processAllAvailable()
      // duplicate arriving in a LATER batch, still within the horizon
      input.addData((t(5), "alpha doc"), (t(6), "gamma doc"))
      q.processAllAvailable()
      val texts = spark.table("sdedup").select("text").as[String].collect().sorted
      assert(texts.toSeq === Seq("alpha doc", "beta doc", "gamma doc"),
        "one survivor per distinct content within the horizon")
    } finally q.stop()
  }

  test("streaming ingest: micro-batches append exactly-once with dense offsets") {
    val wh = Warehouse(tmpDir("graft-stream"))
    val src = tmpDir("graft-stream-src")
    val ckpt = tmpDir("graft-stream-ckpt")
    TopicCatalog.createTopic(spark, wh, "s", 2)

    someRecords(50).write.mode("append").parquet(src)
    someRecords(50, from = 50).write.mode("append").parquet(src)

    val schema = spark.read.parquet(src).schema
    val q = StreamIngest.fromParquetDir(spark, wh, "s", src, schema, "id", ckpt,
      maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()

    val all = LogReader.scan(spark, wh, "s")
    assert(all.count() === 100)
    val perPart = all.groupBy($"partition")
      .agg(count(lit(1)).as("n"), max("offset").as("hi"),
        countDistinct("offset").as("d")).collect()
    perPart.foreach { r =>
      assert(r.getLong(3) === r.getLong(1), "dense")
      assert(r.getLong(2) === r.getLong(1) - 1, "gapless")
    }
  }
}
