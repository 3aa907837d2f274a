package graft.core

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException, Paths, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** The one Hadoop configuration of driver-side filesystem and parquet
  * metadata access, and the one mapping of a warehouse path to `java.nio`.
  *
  * A fresh `Configuration` re-parses `core-default.xml` on first use —
  * about 10 ms per call against ~0.01 ms on a shared instance — and an append
  * makes 15–22 such calls (locks, index reload and delta, footers, commit),
  * so every driver-side `getFileSystem`, `HadoopInputFile` and parquet
  * reader or writer goes through this object instead.
  *
  * [[conf]] is parsed once and NEVER MUTATED: it is shared by every caller
  * on every thread, so a library that may write into the conf it is
  * handed (a parquet writer builder) gets a copy,
  * `new Configuration(Fs.conf)`.
  *
  * This is also the one place a session's `spark.hadoop.*` settings would
  * be threaded through for a warehouse on a configured filesystem; today
  * it carries the defaults (the local-filesystem warehouse).
  *
  * Files and dirs are CREATED through `java.nio` ([[local]]), never through
  * Hadoop: its local filesystem, without the native library, forks a
  * `chmod` for every file, `.crc` sidecar and dir it creates. Reads,
  * listings, renames and deletes fork nothing and stay on Hadoop.
  */
object Fs {

  val conf: Configuration = new Configuration()

  def apply(path: Path): FileSystem = path.getFileSystem(conf)

  def apply(path: String): FileSystem = apply(new Path(path))

  /** Entries of `dir`, empty when it does not exist — one metadata call
    * where `exists` + `listStatus` took two, and no window for the dir to
    * vanish between them. */
  def list(dir: Path): Array[FileStatus] =
    try apply(dir).listStatus(dir)
    catch { case _: FileNotFoundException => Array.empty }

  /** Names in `dir`, None when it does not exist. On the local filesystem
    * one read of the directory: Hadoop's local `listStatus` stats each name
    * afterwards and drops one whose file was deleted in between, so racing
    * a rename-in plus delete it could miss both the new file and the old. */
  def names(dir: Path): Option[Seq[String]] =
    try Some(apply(dir) match {
      case local: LocalFileSystem =>
        val s = Files.newDirectoryStream(local.pathToFile(dir).toPath)
        try s.iterator.asScala.map(_.getFileName.toString).toVector
        finally s.close()
      case fs => fs.listStatus(dir).toSeq.map(_.getPath.getName)
    })
    catch { case _: FileNotFoundException | _: NoSuchFileException => None }

  def inputFile(path: Path): HadoopInputFile = HadoopInputFile.fromPath(path, conf)

  /** `path` as a `java.nio` path. The warehouse is a local directory: any
    * scheme but `file` fails with an `IllegalArgumentException`. */
  def local(path: Path): NioPath = {
    val uri = path.toUri
    val scheme = Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file")
      throw new IllegalArgumentException(
        s"the warehouse must be a local directory; '$path' has scheme '$scheme'")
    Paths.get(uri.getPath)
  }
}
