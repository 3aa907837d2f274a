package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import java.util.concurrent.locks.ReentrantLock
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.core.catalog.Warehouse

/** Cross-JVM mutual exclusion, scoped to a warehouse: an O_EXCL lock file
  * under `<root>/_locks/` plus a JVM-level striped lock. Serializes the
  * mutators of one topic's log + index (append, retention, compaction,
  * deletion) while leaving different topics fully parallel — the reference
  * locks per partition inside one broker process
  * (reference: src/main/java/commons/utils/PartitionWriteManager.java:33-84);
  * our write unit is the Spark job, so the lock unit is the topic (or, for
  * disjoint explicit-partition appends, the partition — see
  * [[withPartitionLocks]]).
  *
  * Two layers, because each covers the other's blind spot:
  *
  *   - '''In-process''': a striped [[ReentrantLock]] keyed by
  *     `(warehouse root, lock name)`. Hadoop's `LocalFileSystem` implements
  *     `create(overwrite = false)` as a non-atomic exists-then-open, so two
  *     threads of one JVM CAN both "win" the file — the JVM lock makes that
  *     race impossible where it is cheapest to prevent. Entries are
  *     refcounted and evicted on last release, so the stripe table stays
  *     bounded by the locks currently in use, not every lock ever touched
  *     (per-partition locks would otherwise grow it by topics × partitions
  *     for the driver's lifetime).
  *   - '''Cross-process''': the lock file, created atomically —
  *     `java.nio.file.Files` `CREATE_NEW` (true O_EXCL) for `file:`
  *     warehouses, `fs.create(overwrite = false)` elsewhere (atomic on real
  *     DFS implementations such as HDFS).
  *
  * Crash recovery: the holder stamps `owner pid@host, acquire epoch, and
  * its staleMs horizon` into the file, and a daemon heartbeat refreshes the
  * file's mtime every `staleMs / 3` while the body runs. A lock whose mtime
  * lags by more than the HOLDER's stamped horizon (waiters honor the
  * holder's declared cadence, not their own) can only belong to a dead JVM,
  * so the next acquirer breaks it — by renaming it to a unique tombstone
  * first and re-checking freshness on the tombstone, so that concurrent
  * breakers elect exactly one winner and a freshly re-acquired lock stolen
  * by a delayed breaker is restored, not deleted.
  *
  * Fencing: every heartbeat re-reads its own stamp before touching the file.
  * If the stamp is no longer ours — the lock was (wrongly or rightly) broken
  * as stale and re-acquired by another process — the holder is STRANDED: it
  * stops refreshing (never extends the new owner's file), logs loudly, and
  * its release skips the delete (never destroys the new owner's lock). On
  * filesystems whose `setTimes` is unsupported or a no-op (e.g. object
  * stores), the heartbeat falls back to rewriting the stamp in place — an
  * overwrite updates mtime on any filesystem — so a live lock never drifts
  * into the stale horizon just because mtime can't be poked directly.
  */
object Locks {

  /** A lock file whose mtime lags now by more than this is presumed
    * abandoned by a crashed JVM and is broken by the next acquirer. Live
    * holders refresh mtime every [[heartbeatPeriod]], so only a crash (or a
    * multi-minute full-GC pause) lets a held lock cross the horizon. */
  val DefaultStaleMs: Long = 10 * 60 * 1000L

  /** Refcounted stripe-table entry: `refs` counts threads between retain
    * and release (mutated only inside `ConcurrentHashMap.compute`, which is
    * atomic per key, so a plain var suffices). An entry is removed exactly
    * when no thread holds a reference — a later retain of the same key
    * creates a fresh entry, and the two can never coexist with waiters. */
  private final class JvmLockEntry {
    val lock = new ReentrantLock()
    var refs = 0
  }

  private val jvmLocks = new ConcurrentHashMap[String, JvmLockEntry]()

  /** Test hook: current stripe-table size (bounded by in-flight locks). */
  private[graft] def jvmLockTableSize: Int = jvmLocks.size()

  private def retainJvmLock(key: String): JvmLockEntry =
    jvmLocks.compute(key, (_, old) => {
      val e = if (old == null) new JvmLockEntry else old
      e.refs += 1
      e
    })

  private def releaseJvmLock(key: String): Unit =
    jvmLocks.compute(key, (_, e) => {
      e.refs -= 1
      if (e.refs == 0) null else e
    })

  // Small pool, not a single thread: one hung setTimes on a stalled mount
  // must not starve every OTHER held lock's mtime refresh into staleness.
  private val heartbeats = Executors.newScheduledThreadPool(4, { (r: Runnable) =>
    val t = new Thread(r, "graft-lock-heartbeat"); t.setDaemon(true); t
  })

  private def heartbeatPeriod(staleMs: Long): Long = math.max(staleMs / 3, 250L)

  private lazy val owner: String =
    s"${ProcessHandle.current().pid()}@${java.net.InetAddress.getLocalHost.getHostName}"

  def withLock[T](
      wh: Warehouse,
      name: String,
      timeoutMs: Long = 180000,
      staleMs: Long = DefaultStaleMs)(body: => T): T =
    withLockUntil(wh, name, System.currentTimeMillis() + timeoutMs, staleMs)(body)

  /** [[withLock]] against an ABSOLUTE deadline — the building block that
    * lets a multi-lock acquisition ([[withPartitionLocks]]) spend one total
    * budget across all its acquires instead of a fresh timeout per lock. */
  private[graft] def withLockUntil[T](
      wh: Warehouse,
      name: String,
      deadline: Long,
      staleMs: Long = DefaultStaleMs)(body: => T): T = {
    val key = s"${wh.root}\u0000$name"
    val entry = retainJvmLock(key)
    try {
      // ONE deadline spans both layers — queueing on the in-process lock must
      // not buy the file acquisition a fresh full timeout on top.
      val waitMs = math.max(0L, deadline - System.currentTimeMillis())
      if (!entry.lock.tryLock(waitMs, TimeUnit.MILLISECONDS))
        throw new IllegalStateException(s"timed out acquiring lock '$name' (in-process)")
      try {
        // Re-entry within a thread: the file is already ours, don't re-acquire.
        if (entry.lock.getHoldCount > 1) body
        else {
          val held = acquireFile(wh, name, deadline, staleMs)
          try body
          finally held.release()
        }
      } finally entry.lock.unlock()
    } finally releaseJvmLock(key)
  }

  /** Topic-wide mutations (retention, compaction, deletion, index rewrite)
    * run under this: the union of every partition's lock, so they exclude
    * both each other and any in-flight per-partition append. */
  def withTopicLock[T](
      wh: Warehouse, topic: String, numPartitions: Int,
      timeoutMs: Long = 180000)(body: => T): T =
    withPartitionLocks(wh, topic, 0 until numPartitions, timeoutMs)(body)

  /** Per-partition write locks — the reference's unit of write serialization
    * (PartitionWriteManager.java:33-84 serializes writers per partition and
    * runs partitions in parallel): appends declaring disjoint partition sets
    * commit concurrently; overlapping sets serialize on their shared
    * partitions. Acquisition is in sorted partition order, so any two
    * overlapping sets (including the all-partitions topic lock) acquire
    * their common prefix in the same order — deadlock-free. `#` cannot
    * appear in a validated topic name, so partition lock names never collide
    * across topics. `timeoutMs` is ONE budget for the whole set: each nested
    * acquire waits only for the remainder, so a blocked acquisition fails
    * after ~timeoutMs total, not ~timeoutMs × partitions.
    *
    * Cost note: a full-set acquisition materializes N lock files (~3N FS
    * metadata ops per append). At 1 ms/RPC on a real DFS that is ~0.1 s for
    * a 32-partition topic — noise against a multi-GB batch commit, and the
    * price of letting partition-scoped writers interleave with topic-wide
    * ones through one uniform, deadlock-free protocol. */
  def withPartitionLocks[T](
      wh: Warehouse, topic: String, parts: Seq[Int],
      timeoutMs: Long = 180000)(body: => T): T = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def go(ps: List[Int]): T = ps match {
      case Nil => body
      case p :: rest => withLockUntil(wh, s"topic-$topic#p$p", deadline)(go(rest))
    }
    go(parts.distinct.sorted.toList)
  }

  private def lockPath(wh: Warehouse, name: String): Path =
    new Path(s"${wh.root}/_locks/$name.lock")

  /** A held lock file: heartbeat + the state release needs to verify it
    * still owns the path before deleting it. */
  private final class HeldFile(
      fs: FileSystem, lock: Path, stamp: Array[Byte], stampPrefix: String,
      staleMs: Long) {
    private val released = new AtomicBoolean(false)
    private val fenced = new AtomicBoolean(false)
    private val failures = new AtomicInteger(0)
    private val beatRef = new AtomicReference[ScheduledFuture[_]]()

    private def ownsPath(): Boolean =
      readStampLine(fs, lock).forall(_.startsWith(stampPrefix))
    // ^ an unreadable/missing file reads as "still ours": the refresh then
    //   fails on its own and is logged; only a READABLE foreign stamp fences.

    /** Strict variant for DESTRUCTIVE paths (overwrite / delete): true only
      * on a readable stamp that is ours — unreadable is NOT presumed ours.
      * Retries briefly so a transient read blip doesn't leak the file into
      * a stale-horizon stall for every waiter. */
    private def ownsPathStrict(): Boolean = {
      var attempt = 0
      while (attempt < 3) {
        readStampLine(fs, lock) match {
          case Some(line) => return line.startsWith(stampPrefix)
          case None =>
            if (!(try fs.exists(lock) catch { case _: Exception => true }))
              return false // nothing there: neither ours nor anyone's
            attempt += 1
            if (attempt < 3) Thread.sleep(50)
        }
      }
      false // exists but unreadable: never destroy what might be a new owner's
    }

    private def beat(): Unit = {
      if (released.get() || fenced.get()) return
      if (!ownsPath()) {
        // Fencing: the lock was broken as stale (a long GC pause, a partial
        // network outage) and re-acquired — we are STRANDED. Refreshing now
        // would extend the NEW owner's file; deleting at release would
        // destroy it. Stop touching the path and shout.
        fenced.set(true)
        Option(beatRef.get()).foreach(_.cancel(false))
        System.err.println(
          s"[graft] LOCK FENCED: $lock is no longer ours (stale-broken and " +
            "re-acquired by another process) — this holder's mutation is no " +
            "longer exclusive; its release will not touch the lock")
        return
      }
      try { fs.setTimes(lock, System.currentTimeMillis(), -1); failures.set(0) }
      catch {
        case _: Exception if !released.get() && ownsPath() =>
          // setTimes unsupported / no-op FS (e.g. object stores): rewrite the
          // stamp in place — an overwrite updates mtime on ANY filesystem.
          // The overwrite is DESTRUCTIVE, so ownership is re-read strictly
          // (readable AND ours) immediately before it: between the guard
          // above and here the lock can be stale-broken and re-acquired,
          // and clobbering the new owner's stamp would fence the legitimate
          // holder instead of us. Residual exposure is one read-then-create
          // window (two metadata ops) — accepted for a best-effort FS lock
          // whose horizon is minutes; if it fires, our NEXT beat reads the
          // new owner's re-stamp and fences this holder.
          try {
            if (ownsPathStrict()) {
              val out = fs.create(lock, true)
              try out.write(stamp) finally out.close()
              failures.set(0)
            } // not verifiably ours: leave the path alone; the next beat()
              // re-evaluates ownership and fences on a foreign stamp
          } catch {
            case e: Exception =>
              // Never swallow silently: if the refresh keeps failing, the
              // lock WILL cross the stale horizon while legitimately held
              // and a waiter will break it.
              val n = failures.incrementAndGet()
              System.err.println(
                s"[graft] lock heartbeat failed ($n consecutive) for $lock: $e" +
                  (if (n.toLong * heartbeatPeriod(staleMs) > staleMs / 2)
                     " — exclusion at risk: a waiter may break this lock as stale"
                   else ""))
          }
        case _: Exception => // released or fenced mid-refresh: nothing to do
      }
    }

    def start(): Unit =
      beatRef.set(heartbeats.scheduleAtFixedRate(
        () => beat(),
        heartbeatPeriod(staleMs), heartbeatPeriod(staleMs), TimeUnit.MILLISECONDS))

    def release(): Unit = {
      released.set(true) // before cancel: an in-flight beat must not recreate the file
      Option(beatRef.get()).foreach(_.cancel(false))
      // Delete only what is VERIFIABLY still ours (readable stamp with our
      // prefix): if the lock was stale-broken and re-acquired, the path now
      // holds the new owner's file, and an unreadable stamp must not be
      // presumed ours — deleting on a failed read could destroy the new
      // owner's exclusion. If the stamp is ours-but-unreadable (transient
      // IO, retried), the leaked file is broken as stale after the horizon:
      // a bounded stall, the cheap failure mode.
      if (!fenced.get() && ownsPathStrict())
        try fs.delete(lock, false)
        catch { case _: java.io.IOException => /* best-effort */ }
    }
  }

  private def acquireFile(
      wh: Warehouse, name: String, deadline: Long, staleMs: Long): HeldFile = {
    val lock = lockPath(wh, name)
    val fs = Fs(lock)
    fs.mkdirs(lock.getParent)
    var held: HeldFile = null
    while (held == null) {
      val stampPrefix = s"$owner ${System.currentTimeMillis()}"
      val stamp = s"$stampPrefix $staleMs\n".getBytes(UTF_8)
      if (tryCreate(fs, lock, stamp)) {
        held = new HeldFile(fs, lock, stamp, stampPrefix, staleMs)
      } else {
        breakIfStale(fs, lock, staleMs)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"timed out acquiring lock '$name'")
        Thread.sleep(100)
      }
    }
    held.start()
    held
  }

  /** Atomically create the lock file with the caller's stamp
    * (`owner acquireEpoch staleMs`). The holder's staleMs rides in the file
    * so WAITERS judge staleness by the HOLDER's declared horizon (its
    * heartbeat cadence derives from it) — a waiter passing a smaller
    * staleMs must not break a live lock whose heartbeat is slower.
    * Returns false when someone else holds it. */
  private def tryCreate(fs: FileSystem, lock: Path, stamp: Array[Byte]): Boolean = {
    if (fs.getUri.getScheme == "file") {
      // LocalFileSystem's create(overwrite=false) is exists-then-open, not
      // atomic; NIO CREATE_NEW is a real O_EXCL open.
      try {
        Files.write(Paths.get(lock.toUri.getPath), stamp,
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        true
      } catch { case _: FileAlreadyExistsException => false }
    } else {
      val out =
        try fs.create(lock, false)
        catch { case _: java.io.IOException => return false }
      try { out.write(stamp); out.close(); true }
      catch {
        case _: java.io.IOException =>
          // The create WON the path but the stamp never landed: an ownerless,
          // never-heartbeated file would block every writer until the stale
          // horizon. Take it back down before reporting failure.
          try out.close() catch { case _: Exception => () }
          try fs.delete(lock, false) catch { case _: Exception => () }
          false
      }
    }
  }

  /** First line of a lock/tombstone file, None when unreadable. */
  private def readStampLine(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      val buf = new Array[Byte](256)
      val n = try in.read(buf) finally in.close()
      Some(new String(buf, 0, math.max(n, 0), UTF_8).trim)
    } catch { case _: Exception => None }

  /** The horizon a waiter must respect for this lock: the HOLDER's stamped
    * staleMs when readable (its heartbeat cadence is derived from it), the
    * waiter's own otherwise (unstamped/corrupt file — e.g. a pre-upgrade
    * or hand-made lock). */
  private def effectiveStaleMs(fs: FileSystem, p: Path, waiterStaleMs: Long): Long =
    readStampLine(fs, p)
      .map(_.split(" "))
      .collect { case f if f.length >= 3 => f(2) }
      .flatMap(_.toLongOption)
      .getOrElse(waiterStaleMs)

  /** Break a lock whose holder is presumed dead. Rename-first: of N waiters
    * seeing the same stale file, exactly one rename succeeds. The rename is
    * then RE-CHECKED on the tombstone before discarding: between this
    * waiter's staleness read and its rename, the lock may have been broken
    * by someone else and re-acquired — in that case the renamed file is a
    * LIVE lock (fresh mtime) and is put straight back instead of deleted.
    * If the restore loses a race with a third acquirer taking the freed
    * path, the live holder it displaced is stranded — its own heartbeat
    * fencing detects the foreign stamp and stands down; here we log loudly.
    * Residual exposure is the restore window itself (two renames, metadata
    * ops) in a three-way race of two delayed breakers and a fresh acquirer
    * — accepted for a best-effort FS lock whose horizon is minutes. */
  private def breakIfStale(fs: FileSystem, lock: Path, staleMs: Long): Unit = {
    val st =
      try fs.getFileStatus(lock)
      catch { case _: java.io.FileNotFoundException => return }
    val horizon = effectiveStaleMs(fs, lock, staleMs)
    if (System.currentTimeMillis() - st.getModificationTime > horizon) {
      val tomb = new Path(lock.getParent,
        s".${lock.getName}.broken-${java.util.UUID.randomUUID().toString.take(8)}")
      if (try fs.rename(lock, tomb) catch { case _: java.io.IOException => false }) {
        // Judge the TOMBSTONE by its own stamp: the renamed file may not be
        // the one whose staleness we read (broken + re-acquired in between).
        val tombHorizon = effectiveStaleMs(fs, tomb, staleMs)
        val tombStale =
          try System.currentTimeMillis() -
            fs.getFileStatus(tomb).getModificationTime > tombHorizon
          catch { case _: java.io.FileNotFoundException => false }
        if (tombStale) fs.delete(tomb, false)
        else if (!(try fs.rename(tomb, lock) catch { case _: java.io.IOException => false })) {
          // A third process took the freed path: ITS lock stands; the live
          // holder we displaced is stranded as a tombstone (its heartbeat
          // fencing will notice the path is no longer its file).
          System.err.println(
            s"[graft] LOCK BREAK RACE: stole live lock $lock " +
              s"(holder ${readStampLine(fs, tomb).getOrElse("?")}) and could " +
              "not restore it — that holder is stranded and no longer exclusive")
        }
      }
    }
  }
}
