package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Memoized state has one home, [[graft.core.Memo]]: a hand-rolled
  * `computeIfAbsent` cache or a per-site temp-dir shutdown hook anywhere
  * else under `src/main/scala` fails here. */
class MemoGuardSpec extends AnyFunSuite {

  test("no hand-rolled cache or shutdown hook outside Memo") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Memo.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("computeIfAbsent(") ||
              l.contains("addShutdownHook(") => s"$p:${i + 1}: ${l.trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
