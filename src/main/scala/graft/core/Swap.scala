package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** Reader-safe directory swap, shared by every rewrite site (topic index,
  * per-group committed offsets, topic catalog).
  *
  * Protocol: the caller materializes the replacement at `<dir>_rewrite`,
  * then [[install]] runs rename-aside → rename-in → delete-aside. Unlocked
  * READERS see a missing dir only between the two renames (two metadata
  * ops), never for the duration of a recursive delete — at millions of
  * files that delete is long, and "dir briefly empty" would read as "data
  * gone". A crash between the renames leaves live-missing + rewrite-present,
  * which [[heal]] (called on every read path) finishes by installing the
  * rewrite; leftover `_old`/`_rewrite` dirs are cleared by the next install.
  * Writers MUST hold the relevant lock; heal is safe unlocked because it
  * only acts on the unambiguous crash state.
  */
object Swap {

  def rewriteDir(dir: String): String = s"${dir}_rewrite"
  def oldDir(dir: String): String = s"${dir}_old"

  /** Names that could collide with swap staging siblings of another name. */
  def isStagingName(name: String): Boolean =
    name.endsWith("_rewrite") || name.endsWith("_old")

  /** Install a fully-written `<dir>_rewrite` as `dir`. Every rename result
    * is CHECKED: proceeding past a failed rename to the final delete could
    * destroy the only remaining copy of the data (e.g. if a concurrent
    * unlocked heal raced the swap on a posix-rename filesystem). On any
    * failure the method throws with live/old/rewrite still containing a
    * complete copy — recoverable, never destroyed. */
  def install(fs: FileSystem, dir: String): Unit =
    install(fs, dir, () => ())

  /** Test seam: `betweenRenames` runs in the live-missing window so specs
    * can deterministically inject the racing unlocked [[heal]]. */
  private[graft] def install(fs: FileSystem, dir: String, betweenRenames: () => Unit): Unit = {
    val live = new Path(dir)
    val old = new Path(oldDir(dir))
    val rewrite = new Path(rewriteDir(dir))
    fs.delete(old, true) // leftover from a crashed prior install
    if (fs.exists(live) && !fs.rename(live, old))
      throw new IllegalStateException(s"swap: failed to rename $dir aside")
    betweenRenames()
    // rename result is normalized to false on exceptions too: LocalFileSystem
    // falls back to copy+delete when the POSIX rename fails and THROWS
    // FileNotFound when the source vanished (e.g. a racing heal consumed it)
    val renamed =
      try fs.rename(rewrite, live)
      catch { case _: java.io.IOException => false }
    if (!renamed) {
      // An unlocked heal (any reader) may have raced us between the renames
      // and completed the install itself: live missing + rewrite present is
      // exactly heal's trigger. If live now exists and the rewrite is gone,
      // the swap COMPLETED — finish the delete-aside instead of throwing a
      // phantom failure (which in retainCommits would abort the remaining
      // groups' sweeps).
      if (fs.exists(live) && !fs.exists(rewrite)) { fs.delete(old, true); return }
      throw new IllegalStateException(
        s"swap: failed to install ${rewriteDir(dir)} as $dir " +
          "(rewrite missing or destination occupied) — aside copy preserved")
    }
    fs.delete(old, true)
  }

  /** Finish a crashed [[install]]: live missing + rewrite present means the
    * crash hit between the renames and the rewrite is complete (it is only
    * ever renamed aside after being fully written). Idempotent; one exists
    * check on the happy path. A rename that throws lost the race to the
    * install itself (or to another reader's heal), which moved the rewrite
    * first — LocalFileSystem throws FileNotFound when the source vanished;
    * readers re-check the dir after healing. */
  def heal(fs: FileSystem, dir: String): Unit = {
    val live = new Path(dir)
    if (!fs.exists(live)) {
      val tmp = new Path(rewriteDir(dir))
      if (fs.exists(tmp))
        try fs.rename(tmp, live)
        catch { case _: java.io.IOException => () }
    }
  }
}

/** Shared path-safety policy for names that become warehouse directory and
  * lock-file names (topics, consumer groups). */
private[graft] object Names {
  private val Valid = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r

  /** None when valid; Some(reason) otherwise. One policy for every
    * namespace, so a new reserved suffix cannot be added to topics but
    * forgotten for groups. */
  def check(name: String): Option[String] =
    if (name == null || name.trim.isEmpty) Some("must be non-empty")
    else if (!Valid.matches(name))
      Some(s"must match ${Valid.regex} (path-safe, no leading . or _)")
    else if (Swap.isStagingName(name))
      Some("collides with a reserved swap-staging suffix (*_rewrite, *_old)")
    else None
}
