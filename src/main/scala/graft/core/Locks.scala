package graft.core

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.StandardOpenOption.{CREATE, WRITE}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.locks.ReentrantLock
import org.apache.hadoop.fs.Path
import graft.core.catalog.Warehouse

/** Cross-JVM mutual exclusion, scoped to a warehouse: a kernel file lock on
  * `<root>/_locks/<name>.lock` plus a JVM-level striped lock. Serializes the
  * mutators of one topic's log + index (append, retention, compaction,
  * deletion) while leaving different topics fully parallel — the reference
  * locks per partition inside one broker process
  * (reference: src/main/java/commons/utils/PartitionWriteManager.java:33-84);
  * our write unit is the Spark job, so the lock unit is the topic (or, for
  * disjoint explicit-partition appends, the partition — see
  * [[withPartitionLocks]]).
  *
  * Two layers, because the kernel lock belongs to the PROCESS:
  *
  *   - '''Cross-process''': `FileChannel.tryLock` on the lock file, polled
  *     against the caller's deadline. The kernel releases it when the
  *     holder closes the channel or its process dies, so a SIGKILLed holder
  *     frees its topic at once — no stamp, heartbeat or stale horizon.
  *   - '''In-process''': a [[ReentrantLock]] keyed by the lock file's
  *     canonical path. The kernel cannot exclude two threads of one JVM,
  *     and worse, closing a SECOND channel on a locked file silently drops
  *     the first channel's lock, so one JVM must never open two channels on
  *     one lock file — including through two spellings of one warehouse dir
  *     (a symlink, `dir/./`), which is why the key is the real path, not
  *     `wh.root`. Entries are refcounted and evicted on last release, so
  *     the table stays bounded by the locks currently in use, not every
  *     lock ever touched (per-partition locks would otherwise grow it by
  *     topics × partitions for the driver's lifetime).
  *
  * The warehouse must be a LOCAL directory (`file:`, as `MetaTable`
  * assumes): other schemes fail fast with an [[IllegalArgumentException]].
  *
  * Lock files are never deleted. A waiter may hold a channel on the file
  * when it is unlinked; it would then lock the old inode while a new
  * creator locks the new one, and both would "hold" the lock. A leftover
  * file is harmless: only a live process's kernel lock excludes.
  */
object Locks {

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

  def withLock[T](
      wh: Warehouse,
      name: String,
      timeoutMs: Long = 180000)(body: => T): T =
    withLockUntil(wh, name, System.currentTimeMillis() + timeoutMs)(body)

  /** [[withLock]] against an ABSOLUTE deadline — the building block that
    * lets a multi-lock acquisition ([[withPartitionLocks]]) spend one total
    * budget across all its acquires instead of a fresh timeout per lock. */
  private[graft] def withLockUntil[T](wh: Warehouse, name: String, deadline: Long)(body: => T): T = {
    val file = lockDir(wh).resolve(s"$name.lock")
    val key = file.toString
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
          val channel = acquireFile(file, name, deadline)
          try body
          finally channel.close() // releases the kernel lock; not interruptible
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
    * Cost note: a full-set acquisition opens and locks N files, about 50 µs
    * each uncontended on a local disk. */
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

  /** The warehouse's `_locks` dir, created if missing (with NIO: Hadoop's
    * local `mkdirs` forks `chmod` without the native library) and resolved
    * to its real path, so every spelling of one dir yields one key. */
  private def lockDir(wh: Warehouse): NioPath =
    Files.createDirectories(Fs.local(new Path(s"${wh.root}/_locks"))).toRealPath()

  /** Open the lock file and poll its kernel lock until `deadline`. The
    * returned channel holds the lock; closing it releases. */
  private def acquireFile(file: NioPath, name: String, deadline: Long): FileChannel = {
    val channel = FileChannel.open(file, CREATE, WRITE)
    try {
      while (channel.tryLock() == null) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"timed out acquiring lock '$name'")
        Thread.sleep(100)
      }
      channel
    } catch {
      case e: Throwable => channel.close(); throw e
    }
  }
}
