package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CyclicBarrier, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.core.{MetaTable, Swap}
import graft.core.groups.ConsumerGroup

/** The metadata store's snapshot protocol at each crash point of a
  * `replace` — before the snapshot rename, and between the rename and the
  * deletes — and under unlocked readers racing it. Every state must read
  * as one whole generation: each row exactly once, none lost. */
class MetaSnapshotSpec extends SparkSpec {

  private val schema = ConsumerGroup.offsetsSchema

  private def row(p: Int, o: Long): Row = Row("g", "t", p, o, 1700000000000L + o)

  private val first = Seq(row(0, 1L), row(1, 2L))
  private val second = Seq(row(0, 3L))

  /** Rows as a sorted list, so a duplicated row shows. */
  private def read(dir: String): Seq[String] =
    MetaTable.read(dir, schema).map(_.toString).toSeq.sorted

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  private def names(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSeq.sorted

  private def dataFiles(dir: String): Seq[String] =
    names(dir).filterNot(n => n.startsWith(".") || n.startsWith("_"))

  /** A table of two gen-0 deltas. */
  private def table(prefix: String): String = {
    val dir = tmpDir(prefix) + "/table"
    MetaTable.append(dir, schema, first)
    MetaTable.append(dir, schema, second)
    dir
  }

  test("crash after the snapshot rename, before the deletes: every row read exactly once") {
    val dir = table("graft-snap-crash-after")
    // the files the replace will cover, kept to put back after it
    val aside = Files.createTempDirectory("graft-snap-aside")
    names(dir).foreach(n => Files.copy(Paths.get(dir, n), aside.resolve(n)))
    MetaTable.replace(dir, schema, first ++ second)
    assert(dataFiles(dir) === Seq("snap-1.parquet"))
    Files.list(aside).iterator.asScala.foreach((p: Path) =>
      Files.copy(p, Paths.get(dir, p.getFileName.toString), StandardCopyOption.REPLACE_EXISTING))
    assert(dataFiles(dir).length === 3, "the covered deltas are back beside the snapshot")
    assert(read(dir) === sorted(first ++ second))
    // a delta appended now follows the snapshot and is read once too
    val third = Seq(row(1, 4L))
    MetaTable.append(dir, schema, third)
    assert(read(dir) === sorted(first ++ second ++ third))
    // the next replace deletes what the crashed one left
    MetaTable.replace(dir, schema, third)
    assert(dataFiles(dir) === Seq("snap-2.parquet"))
    assert(read(dir) === sorted(third))
  }

  test("crash before the snapshot rename: readers ignore the dot-file, the next replace removes it") {
    val dir = table("graft-snap-crash-before")
    // a fully written snapshot that never got renamed in, holding rows
    // that must not be read
    val other = tmpDir("graft-snap-other") + "/table"
    MetaTable.replace(other, schema, Seq(row(7, 70L)))
    Files.copy(Paths.get(other, "snap-1.parquet"), Paths.get(dir, ".snap-1-0123456789abcdef.parquet"))
    assert(read(dir) === sorted(first ++ second))
    assert(MetaTable.uncompacted(dir) === 2)
    MetaTable.replace(dir, schema, first)
    assert(!names(dir).contains(".snap-1-0123456789abcdef.parquet"), names(dir).mkString(","))
    assert(dataFiles(dir) === Seq("snap-1.parquet"))
    assert(read(dir) === sorted(first))
  }

  test("a delta appended after a snapshot is read, and the next snapshot covers it") {
    val dir = table("graft-snap-delta")
    MetaTable.replace(dir, schema, first)
    MetaTable.append(dir, schema, second)
    assert(dataFiles(dir).count(_.startsWith("delta-1-")) === 1, dataFiles(dir).mkString(","))
    assert(MetaTable.uncompacted(dir) === 1)
    assert(read(dir) === sorted(first ++ second))
    MetaTable.replace(dir, schema, MetaTable.read(dir, schema).toSeq)
    assert(dataFiles(dir) === Seq("snap-2.parquet"))
    assert(MetaTable.uncompacted(dir) === 0)
    assert(read(dir) === sorted(first ++ second))
  }

  /** Runs `calls` at once — each waits at a barrier until all have started. */
  private def race[T](calls: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(calls.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(calls.size)
    try Await.result(Future.sequence(calls.map(c => Future { barrier.await(); c() })), 120.seconds)
    finally pool.shutdown()
  }

  test("replace raced by unlocked readers completes; reads see whole generations") {
    val dir = table("graft-snap-race")
    val rows = first ++ second
    val replaces = 200
    @volatile var done = false
    val results = race(Seq(
      () => {
        try (1 to replaces).foreach(_ => MetaTable.replace(dir, schema, rows))
        finally done = true
        0
      },
      () => {
        var reads = 0
        while (!done) {
          assert(read(dir) === sorted(rows), s"read $reads")
          reads += 1
        }
        reads
      }))
    assert(results(1) > 0, "no read overlapped the replaces")
    assert(dataFiles(dir) === Seq(s"snap-$replaces.parquet"))
    assert(read(dir) === sorted(rows))
  }

  test("readers racing to finish an older version's swap all read every row") {
    (0 until 5).foreach { round =>
      val dir = table(s"graft-snap-legacy-$round")
      // an older version's crash between its two renames: no live dir, the
      // complete rewrite beside it, the aside copy too
      Files.move(Paths.get(dir), Paths.get(Swap.rewriteDir(dir)))
      Files.createDirectory(Paths.get(Swap.oldDir(dir)))
      val reads = race(Seq.fill(4)(() => read(dir)))
      assert(reads.forall(_ === sorted(first ++ second)), s"round $round")
      assert(Files.isDirectory(Paths.get(dir)), s"round $round")
      assert(!Files.exists(Paths.get(Swap.rewriteDir(dir))) &&
        !Files.exists(Paths.get(Swap.oldDir(dir))), s"round $round")
    }
  }
}
