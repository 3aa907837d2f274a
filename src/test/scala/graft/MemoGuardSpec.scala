package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared driver state has one home each, and a copy anywhere else under
  * `src/main/scala` fails here:
  *   - memoized state lives in [[graft.core.Memo]]: no hand-rolled
  *     `computeIfAbsent` cache or per-site temp-dir shutdown hook;
  *   - the Hadoop configuration lives in [[graft.core.Fs]]: no per-call
  *     `Configuration` (each re-parses the default resources, 6–10 ms), no
  *     `getFileSystem` / `HadoopInputFile` on a conf of its own, no path
  *     based parquet reader builder (it parses a fresh default conf even
  *     under `.withConf`), and no recursive Hadoop `listFiles` (the local
  *     filesystem forks a process per returned file);
  *   - a SparkSession is built only in [[graft.Sessions]] and a listener
  *     is registered only in [[graft.JobStats]];
  *   - the metadata tables (offset index, topic catalog, group offsets) are
  *     read and written only through [[graft.core.MetaTable]]: no Spark read
  *     or write of their dirs, no parquet-mr reader or writer elsewhere;
  *   - a topic's segment files are written only by
  *     [[graft.core.log.SegmentWriter]]: no Spark `DataFrameWriter` into a
  *     log dir (a `partitionBy("partition")` write, or a `.parquet(` of a
  *     log, partition or staging dir);
  *   - nothing under `graft/core` creates a file or dir through Hadoop (its
  *     local filesystem forks a `chmod` per file, `.crc` sidecar and dir):
  *     no `HadoopOutputFile`, no Spark `OutputWriterFactory`, and no
  *     `create`/`mkdirs` on a Hadoop `FileSystem` (an `fs`, an `Fs(…)` or
  *     `FileSystem` itself). */
class MemoGuardSpec extends AnyFunSuite {

  private def hits(home: String, under: String = "src/main/scala")(
      bad: String => Boolean): List[String] = {
    val root = Paths.get(under)
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != home)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if bad(l) => s"$p:${i + 1}: ${l.trim}"
        }
      }.toList
  }

  test("no hand-rolled cache or shutdown hook outside Memo") {
    val found = hits("Memo.scala")(l =>
      l.contains("computeIfAbsent(") || l.contains("addShutdownHook("))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no per-call Hadoop configuration or recursive listing outside Fs") {
    val patterns = Seq(
      """new Configuration\(\s*\)""",
      """new org\.apache\.hadoop\.conf\.Configuration\(""",
      """\.getFileSystem\(""",
      """HadoopInputFile\.fromPath\(""",
      """ParquetReader\s*\.builder\(""",
      """\.builder\(new GroupReadSupport""",
      """\.listFiles\([^)]*,\s*true\s*\)""").map(_.r)
    val found = hits("Fs.scala")(l => patterns.exists(_.findFirstIn(l).isDefined))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no session builder outside Sessions, no listener outside JobStats") {
    val builders = hits("Sessions.scala")(_.contains("SparkSession.builder("))
    val listener = Seq("""addSparkListener\(""", """new\s+[\w.]*SparkListener\s*\{""",
      """extends\s+[\w.]*SparkListener\b""").map(_.r)
    val listeners = hits("JobStats.scala")(l => listener.exists(_.findFirstIn(l).isDefined))
    assert(builders.isEmpty && listeners.isEmpty, (builders ++ listeners).mkString("\n"))
  }

  test("metadata tables are read and written only through MetaTable") {
    val patterns = Seq(
      """\.read\.schema\(\s*(graft\.core\.)?(Schemas\.(index|topics)|(ConsumerGroup\.)?offsetsSchema)\s*\)""",
      """\.parquet\(.*(catalogDir|indexDir|groupDir|Swap\.rewriteDir)""",
      """ExampleParquetWriter|ParquetReader\.Builder""").map(_.r)
    val found = hits("MetaTable.scala")(l => patterns.exists(_.findFirstIn(l).isDefined))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("segment files are written only by SegmentWriter") {
    val patterns = Seq(
      """\.partitionBy\(\s*"partition"\s*\)""",
      """\.parquet\([^)]*(logDir|partitionDir)""",
      """\.parquet\(\s*staging\s*\)""").map(_.r)
    val found = hits("SegmentWriter.scala")(l => patterns.exists(_.findFirstIn(l).isDefined))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("nothing under graft/core creates files or dirs through Hadoop") {
    val patterns = Seq(
      """HadoopOutputFile""",
      """OutputWriterFactory""",
      """(\bfs|\bFs\([^)]*\)|\bFileSystem)\s*\.\s*(create|createNewFile|createNonRecursive|mkdirs)\(""")
      .map(_.r)
    val found = hits("", "src/main/scala/graft/core")(l =>
      patterns.exists(_.findFirstIn(l).isDefined))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
