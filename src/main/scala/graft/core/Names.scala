package graft.core

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

/** Sibling dirs of the directory swap older versions ran to rewrite a
  * metadata table (`<dir>_rewrite` the replacement, `<dir>_old` the aside
  * copy). Only [[MetaTable]]'s legacy rule reads them; [[Names]] reserves
  * the suffixes. */
private[graft] object Swap {
  def rewriteDir(dir: String): String = s"${dir}_rewrite"
  def oldDir(dir: String): String = s"${dir}_old"

  def isStagingName(name: String): Boolean =
    name.endsWith("_rewrite") || name.endsWith("_old")
}
