package graft.core.log

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.core.Fs

/** [[LogWriter.commitStaged]] lists `staging/partition=<p>/` with two
  * `listStatus` levels; it must move exactly the files a recursive
  * `listFiles` walk under the same skip rules selects, and return the same
  * sorted destinations. */
class CommitStagedSpec extends AnyFunSuite {

  /** The recursive-walk selection: every file whose name is not `_`- or
    * `.`-prefixed and whose parent dir is `partition=<p>`. */
  private def walkSelection(staging: String, logDir: String): Seq[(String, String)] = {
    val sp = new Path(staging)
    val it = Fs(sp).listFiles(sp, true)
    val out = Seq.newBuilder[(String, String)]
    while (it.hasNext) {
      val p = it.next().getPath
      val (name, parent) = (p.getName, p.getParent.getName)
      if (!name.startsWith("_") && !name.startsWith(".") && parent.startsWith("partition="))
        out += (p.toUri.getPath -> new Path(s"$logDir/$parent/$name").toString)
    }
    out.result()
  }

  private def touch(root: String, rel: String): Unit = {
    val f = Paths.get(root, rel)
    Files.createDirectories(f.getParent)
    Files.writeString(f, rel)
  }

  test("moves the same files and returns the same sorted paths as a recursive walk") {
    val root = Files.createTempDirectory("graft-commit-staged").toString
    val staging = s"$root/logs/.staging-abc"
    val logDir = s"$root/logs"
    Seq(
      "_SUCCESS",
      "stray.txt",
      "_temporary/0/part-00009-x.parquet",
      "_temporary/0/_temporary/attempt_1/part-00008-x.parquet",
      "other/part-00007-x.parquet",
      "partition=0/part-00000-x.c000.snappy.parquet",
      "partition=0/.part-00000-x.c000.snappy.parquet.crc",
      "partition=0/_committed",
      "partition=3/part-00001-x.c000.snappy.parquet",
      "partition=3/part-00002-x.c000.snappy.parquet",
      "partition=3/.part-00001-x.c000.snappy.parquet.crc"
    ).foreach(touch(staging, _))
    val expected = walkSelection(staging, logDir)
    assert(expected.size === 3)

    val committed = LogWriter.commitStaged(staging, logDir)
    assert(committed === expected.map(_._2).sorted)
    expected.foreach { case (src, dst) =>
      assert(!Files.exists(Paths.get(src)), s"$src moved away")
      assert(Files.readString(Paths.get(new Path(dst).toUri.getPath)) ===
        src.stripPrefix(s"$staging/"), s"$dst holds the staged bytes")
    }
    assert(!Files.exists(Paths.get(staging)), "staging dir dropped")
    // the local filesystem moves each file's `.crc` sidecar with it
    val landed = Files.walk(Paths.get(logDir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(_.toString).toSet
    assert(landed === expected.map(e => new Path(e._2).toUri.getPath).toSet,
      "nothing else landed in the log dir")
  }

  test("a missing staging dir commits nothing") {
    val root = Files.createTempDirectory("graft-commit-missing").toString
    assert(LogWriter.commitStaged(s"$root/.staging-none", root).isEmpty)
  }
}
