package graft

import graft.core.Memo
import graft.pipeline.Dsir
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

class MemoSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("a memoized fit refits after its input dir is rewritten") {
    val dir = tmpDir("graft-memo-refit")
    Files.list(Paths.get(sf)).forEach(f =>
      Files.copy(f, Paths.get(dir).resolve(f.getFileName)))
    val before = graft.queries.Queries.dsirWeights(spark, dir).collect().toSeq

    // overwrite documents.parquet in place with a different subset of rows
    val subset = tmpDir("graft-memo-subset")
    spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 3 =!= 0)
      .coalesce(1).write.mode("overwrite").parquet(subset)
    val part = Files.list(Paths.get(subset)).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, Paths.get(dir, "documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val after = graft.queries.Queries.dsirWeights(spark, dir).collect().toSeq
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = Dsir.fit(docs, col("text"), col("lang") === "en", nBuckets = 256)
    val direct = docs.select(col("doc_id"), col("lang"),
        round(Dsir.logWeight(model, col("text")), 6).as("logw"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(after === direct, "the memo served the fit of the old input")
    assert(after.size < before.size)
  }

  test("a load that calls Memo for another key completes") {
    val got = Memo("spec.outer", "/memo/nested", ()) {
      Memo("spec.inner", "/memo/nested", ())(20) + 1
    }
    assert(got === 21)
  }

  test("eight concurrent first calls for one key load once") {
    val loads = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (0 until 8).map(_ => pool.submit(() => {
        start.await()
        Memo("spec.once", "/memo/once", ()) {
          loads.incrementAndGet()
          Thread.sleep(200)
          "v"
        }
      }))
      start.countDown()
      assert(results.map(_.get(30, TimeUnit.SECONDS)).toSet === Set("v"))
      assert(loads.get === 1)
    } finally pool.shutdownNow()
  }

  test("a changed stamp reloads, an equal one hits") {
    val loads = new AtomicInteger()
    def get(stamp: String) =
      Memo("spec.stamp", "/memo/stamp", stamp)(loads.incrementAndGet())
    assert(get("a") === 1 && get("a") === 1)
    assert(get("b") === 2 && get("b") === 2)
  }

  test("invalidating /x/a drops its subtree and keeps /x/ab") {
    val loads = new AtomicInteger()
    def get(key: String) = Memo("spec.inv", key, ())(loads.incrementAndGet())
    Seq("/x/a", "/x/a/meta", "/x/ab").foreach(get)
    Memo.invalidate("/x/a")
    get("/x/ab")
    assert(loads.get === 3, "a sibling sharing the prefix was dropped")
    get("/x/a"); get("/x/a/meta")
    assert(loads.get === 5)
  }

  test("listing covers name, length and mtime and skips _ and . names") {
    val dir = tmpDir("graft-memo-listing")
    val f = Paths.get(dir, "part-0")
    Files.write(f, Array[Byte](1, 2))
    val l0 = Memo.listing(dir)
    Files.write(Paths.get(dir, "_SUCCESS"), Array[Byte](1))
    Files.write(Paths.get(dir, ".part-0.crc"), Array[Byte](1))
    assert(Memo.listing(dir) === l0)
    Files.write(f, Array[Byte](3, 4))
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
      .fromMillis(Files.getLastModifiedTime(f).toMillis + 5000))
    assert(Memo.listing(dir) !== l0, "a same-length rewrite must change it")
    assert(Memo.listing(s"$dir/missing") === "")
  }

  test("scratchDir returns a fresh existing dir per call") {
    val (a, b) = (Memo.scratchDir("graft-memo-s"), Memo.scratchDir("graft-memo-s"))
    assert(a !== b)
    assert(Files.isDirectory(Paths.get(a)) && Files.isDirectory(Paths.get(b)))
  }
}
