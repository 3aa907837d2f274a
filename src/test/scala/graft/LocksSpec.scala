package graft

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import graft.core.Locks
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogReader, LogWriter}

class LocksSpec extends SparkSpec {

  private def lockFile(wh: Warehouse, name: String): File =
    new File(s"${wh.root}/_locks/$name.lock")

  /** Another thread takes the lock with a short timeout: the previous
    * holder's kernel lock and in-process lock are both gone. */
  private def acquiresAtOnce(wh: Warehouse): Boolean =
    Await.result(Future(Locks.withLock(wh, "topic-t", timeoutMs = 500)(true)), 30.seconds)

  test("a lock file left by a dead process does not block; acquirer proceeds") {
    val wh = Warehouse(tmpDir("graft-locks-leftover"))
    val f = lockFile(wh, "topic-t")
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, "99999@deadhost 0 600000\n")
    assert(f.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    // the JVM's first lock loads the Hadoop configuration (~0.9 s cold)
    Locks.withLock(wh, "warm-up")(())
    val t0 = System.currentTimeMillis()
    val r = Locks.withLock(wh, "topic-t", timeoutMs = 30000) { 42 }
    assert(r === 42)
    assert(System.currentTimeMillis() - t0 < 1000, "a bare file is not a lock")
    assert(acquiresAtOnce(wh), "released after body")
  }

  test("reentrant within one thread") {
    val wh = Warehouse(tmpDir("graft-locks-reent"))
    val r = Locks.withLock(wh, "topic-t") {
      Locks.withLock(wh, "topic-t") { 7 }
    }
    assert(r === 7)
    assert(acquiresAtOnce(wh), "the outer release frees the lock")
  }

  test("mutual exclusion across threads of one JVM") {
    val wh = Warehouse(tmpDir("graft-locks-mutex"))
    var inside = 0
    var maxInside = 0
    var total = 0
    val fs = (0 until 8).map { _ =>
      Future {
        Locks.withLock(wh, "topic-t") {
          inside += 1
          maxInside = math.max(maxInside, inside)
          Thread.sleep(20)
          total += 1
          inside -= 1
        }
      }
    }
    Await.result(Future.sequence(fs), 60.seconds)
    assert(maxInside === 1, "never two holders at once")
    assert(total === 8)
  }

  test("cross-JVM: a lock held by another PROCESS excludes us; released lock acquires") {
    val wh = Warehouse(tmpDir("graft-locks-xjvm"))
    val p = spawnHolder(wh, holdMs = 4000)
    try {
      // exclusion comes from the lock FILE (the other JVM shares no striped lock)
      intercept[IllegalStateException] {
        Locks.withLock(wh, "topic-t", timeoutMs = 800) { fail("must not enter") }
      }
      // once the holder releases, acquisition succeeds promptly
      assert(p.waitFor(30, TimeUnit.SECONDS), "holder JVM must exit")
      val r = Locks.withLock(wh, "topic-t", timeoutMs = 10000) { 1 }
      assert(r === 1)
    } finally p.destroyForcibly()
  }

  test("cross-JVM: a SIGKILLed holder's lock is free at once") {
    val wh = Warehouse(tmpDir("graft-locks-kill"))
    val p = spawnHolder(wh, holdMs = 600000) // would hold 10 min
    try {
      p.destroyForcibly() // the crash: no finally, no release — lock file remains
      assert(p.waitFor(30, TimeUnit.SECONDS))
      assert(lockFile(wh, "topic-t").exists(), "crashed holder leaves its lock file")
      val r = Locks.withLock(wh, "topic-t", timeoutMs = 5000) { 2 }
      assert(r === 2, "the kernel released the dead process's lock")
    } finally p.destroyForcibly()
  }

  test("two spellings of one warehouse dir share one lock") {
    val dir = tmpDir("graft-locks-spell")
    val link = new File(tmpDir("graft-locks-link"), "wh").toPath
    Files.createSymbolicLink(link, new File(dir).toPath)
    val wh = Warehouse(dir)
    val held = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(1)
    val holder = Future(Locks.withLock(wh, "topic-t") { held.countDown(); done.await() })
    assert(held.await(30, TimeUnit.SECONDS))
    try {
      // a second channel opened and closed on the held file would drop the
      // holder's kernel lock: both spellings must queue on the holder's entry
      for (other <- Seq(Warehouse(link.toString), Warehouse(s"$dir/./"))) {
        val tried = Future(Locks.withLock(other, "topic-t", timeoutMs = 300)(fail("must not enter")))
        intercept[IllegalStateException](Await.result(tried, 30.seconds))
      }
      val p = startHolder(wh, holdMs = 0)
      try {
        val childHeld = heldMarker(p)
        assert(!within(childHeld, 5000), "another process acquired a held lock")
        done.countDown()
        Await.result(holder, 30.seconds)
        assert(within(childHeld, 30000), "the child acquires once the holder releases")
      } finally p.destroyForcibly()
    } finally done.countDown()
  }

  test("a SIGKILLed holder does not wedge appends") {
    import spark.implicits._
    val wh = Warehouse(tmpDir("graft-locks-append"))
    TopicCatalog.createTopic(spark, wh, "t", 2)
    def records(from: Int) = (from until from + 100)
      .map(i => (i.toLong, 1700000000000L + i, s"k${i % 7}", s"v$i"))
      .toDF("id", "ts", "key", "value")
    LogWriter.append(spark, wh, "t", records(0), "id")
    val p = spawnHolder(wh, holdMs = 600000, name = "topic-t#p1")
    p.destroyForcibly()
    assert(p.waitFor(30, TimeUnit.SECONDS))
    // default lock timeout: only the kernel's release lets this finish in time
    val appended = Future(LogWriter.append(spark, wh, "t", records(100), "id"))
    assert(Await.result(appended, 20.seconds).records === 100)
    val perPart = LogReader.scan(spark, wh, "t").collect()
      .groupBy(_.getAs[Int]("partition")).values.map(_.map(_.getAs[Long]("offset")).sorted.toSeq)
    assert(perPart.map(_.size).sum === 200)
    perPart.foreach(offs => assert(offs === offs.indices.map(_.toLong), "dense from 0"))
  }

  private def startHolder(wh: Warehouse, holdMs: Long, name: String = "topic-t"): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    new ProcessBuilder(javaBin, "-cp", cp, "graft.tools.LockHold", wh.root, name, holdMs.toString)
      .redirectErrorStream(true).start()
  }

  /** Completes true when the child prints HELD, false if its output ends
    * first. One reader per child: it consumes every line it reads. */
  private def heldMarker(p: Process): Future[Boolean] = {
    val reader = new BufferedReader(new InputStreamReader(p.getInputStream))
    Future(blocking(Iterator.continually(reader.readLine()).takeWhile(_ != null).contains("HELD")))
  }

  private def within(f: Future[Boolean], waitMs: Long): Boolean =
    try Await.result(f, waitMs.millis)
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Launch graft.tools.LockHold in a fresh JVM and wait for its HELD marker. */
  private def spawnHolder(wh: Warehouse, holdMs: Long, name: String = "topic-t"): Process = {
    val p = startHolder(wh, holdMs, name)
    if (!within(heldMarker(p), 30000)) {
      p.destroyForcibly()
      throw new IllegalStateException("holder JVM did not print HELD within 30s")
    }
    p
  }

  test("jvm stripe table evicts entries on last release") {
    val wh = Warehouse(tmpDir("graft-locks-evict"))
    val before = Locks.jvmLockTableSize
    // per-partition lock names: the table would otherwise grow by
    // topics × partitions for the driver's lifetime
    (0 until 16).foreach { t =>
      Locks.withPartitionLocks(wh, s"evict$t", 0 until 4) { () }
    }
    assert(Locks.jvmLockTableSize === before,
      "released lock entries must be evicted, not retained forever")
  }

  test("withPartitionLocks spends ONE timeout budget across the whole set") {
    val wh = Warehouse(tmpDir("graft-locks-budget"))
    // p0 frees after 1.2s; p2 is held far past any deadline. A per-lock
    // timeout would grant p2 a fresh full budget AFTER the p0 wait; the
    // shared deadline fails the whole acquisition at ~timeoutMs total.
    val long = spawnHolder(wh, holdMs = 600000, name = "topic-t#p2")
    val short = spawnHolder(wh, holdMs = 1200, name = "topic-t#p0")
    try {
      val t0 = System.currentTimeMillis()
      intercept[IllegalStateException] {
        Locks.withPartitionLocks(wh, "t", Seq(0, 1, 2), timeoutMs = 2500) {
          fail("must not enter: p2 is held for the whole test")
        }
      }
      val elapsed = System.currentTimeMillis() - t0
      // per-lock timeouts would spend ~1200 (p0) + 2500 (p2) ≈ 3700ms;
      // the shared deadline caps the WHOLE set at ~2500ms
      assert(elapsed < 3200,
        s"one shared deadline (~2500ms), not per-partition accumulation: ${elapsed}ms")
    } finally { short.destroyForcibly(); long.destroyForcibly() }
  }

  test("held lock survives past the stale horizon (heartbeat refreshes mtime)") {
    val wh = Warehouse(tmpDir("graft-locks-beat"))
    val holder = Future {
      Locks.withLock(wh, "topic-t") { Thread.sleep(2500); "held" }
    }
    Thread.sleep(300) // let the holder acquire
    // a long hold is never broken: the contender waits it out
    val contender = Future {
      Locks.withLock(wh, "topic-t", timeoutMs = 10000) { "after" }
    }
    assert(Await.result(holder, 30.seconds) === "held")
    assert(Await.result(contender, 30.seconds) === "after")
  }
}
