package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.hadoop.fs.Path

/** The one registry of memoized driver-side state: fitted models, standing
  * indexes, index meta, pinned schemas and the topic-index cache.
  *
  * A value is cached per (kind, key) together with the `stamp` it was
  * loaded under, and reloaded whenever a call passes a different stamp —
  * so the registry can only serve a value whose input is unchanged (the
  * D-Streams recovery argument: a memo is a deterministic recomputation
  * from its inputs, cached). Two stamping rules cover every caller:
  *   - state derived from a directory is stamped with [[listing]] of that
  *     directory, so rewriting the input reloads it;
  *   - state that is immutable after a build (index meta, pinned schemas)
  *     is stamped with a constant and dropped by the build's
  *     [[invalidate]] call.
  *
  * Loads run under a per-key cell lock, never a map-wide one: a load may
  * call `Memo` for another key (a composite index build that needs a
  * fitted gate), and concurrent first calls for one key still load once.
  * A load that throws caches nothing.
  */
object Memo {

  private final class Cell {
    @volatile var loaded: Option[(Any, Any)] = None // (stamp, value)
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** The value of `load` for (kind, key), loaded once and reloaded when
    * `stamp` differs from the stamp it was loaded under. */
  def apply[V](kind: String, key: String, stamp: Any)(load: => V): V = {
    val cell = cells.computeIfAbsent((kind, key), _ => new Cell)
    def hit = cell.loaded.collect { case (s, v) if s == stamp => v.asInstanceOf[V] }
    hit.getOrElse(cell.synchronized {
      hit.getOrElse {
        val v = load
        cell.loaded = Some((stamp, v))
        v
      }
    })
  }

  /** Drop every kind cached under `path`: the key itself and keys below
    * `path + "/"` — a sibling sharing the prefix (`/idx/ab` for `/idx/a`)
    * is kept. */
  def invalidate(path: String): Unit = {
    val p = path.stripSuffix("/")
    cells.keySet.removeIf { case (_, k) => k == p || k.startsWith(p + "/") }
    ()
  }

  /** Fingerprint of a directory's listing — name, length and modification
    * time of each entry, skipping `_`- and `.`-prefixed names (commit
    * markers, staging and checksum debris that no reader opens). Empty for
    * a missing directory. One driver-side listing call, no Spark job. */
  def listing(dir: String): String =
    Fs.list(new Path(dir))
      .filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")

  private val scratch = new ConcurrentLinkedQueue[java.io.File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratch.forEach { d =>
      try org.apache.spark.network.util.JavaUtils.deleteRecursively(d)
      catch { case _: Throwable => () }
    }))

  /** A fresh temp directory, deleted at JVM exit. */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    scratch.add(d)
    d.toString
  }
}
