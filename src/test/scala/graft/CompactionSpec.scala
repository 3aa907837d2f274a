package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.pipeline.{IvfIndex, LshIndex, SrpIndex}

/** Index compaction ([[graft.pipeline.IndexMaintenance]]): after a history
  * of appends — including a replayed one — `compact` collapses every
  * partition directory to a single file, and probe/top-k results are
  * IDENTICAL before and after (compaction also garbage-collects the
  * replay's duplicate rows, which the probes tolerated but paid file opens
  * for). */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  /** data files per partition directory of a partitioned table. */
  private def filesPerDir(table: String): Map[String, Int] = {
    val root = new Path(table)
    val fs = root.getFileSystem(new Configuration())
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath).count { f =>
          val n = f.getPath.getName
          !f.isDirectory && !n.startsWith("_") && !n.startsWith(".")
        }
      }.toMap
  }

  test("LshIndex.compact: one file per shard, probe pairs unchanged") {
    val path = tmpDir("graft-lsh-compact")
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    val batch = docs.filter($"doc_id" % 4 === 0)
    LshIndex.build(corpus.filter($"doc_id" % 2 === 1), $"doc_id", $"text",
      path, shingleSize = 5, numHashes = 128, bands = 16)
    val tail = corpus.filter($"doc_id" % 2 === 0)
    LshIndex.append(tail, $"doc_id", $"text", path)
    LshIndex.append(tail, $"doc_id", $"text", path) // replayed append
    // appends land in the unsharded delta tail: ONE plain file per table
    // per append, never one-per-hit-shard — the file-count contract that
    // keeps a 500 ms streaming trigger from exploding the directory tree
    def deltaCount(t: String) = new java.io.File(s"$path/${t}_delta")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(deltaCount("buckets") === 2 && deltaCount("shingles") === 2,
      "each append must add exactly one delta file per table")
    def run() =
      LshIndex.probe(spark, path, batch, $"doc_id", $"text", threshold = 0.6)
        .as[(Long, Long, Double)].collect().toSet
    val before = run()
    assert(before.nonEmpty)
    val stats = LshIndex.compact(spark, path)
    assert(stats.dirsCompacted > 0 && stats.filesRemoved > stats.dirsCompacted)
    assert(deltaCount("buckets") === 0 && deltaCount("shingles") === 0,
      "compact must fold the delta tail into the sharded base")
    assert(filesPerDir(s"$path/buckets").values.forall(_ == 1),
      "every bucket shard dir must hold exactly one file after compact")
    assert(filesPerDir(s"$path/shingles").values.forall(_ == 1),
      "every shingle shard dir must hold exactly one file after compact")
    assert(run() === before, "probe pairs must be identical after compact")
    // idempotent: a second compact finds nothing to do
    assert(LshIndex.compact(spark, path).dirsCompacted === 0)
  }

  test("SrpIndex.compact: one file per dir, probe pairs unchanged") {
    val path = tmpDir("graft-srp-compact")
    val corpus = emb.filter($"vec_id" % 4 =!= 0)
    val batch = emb.filter($"vec_id" % 4 === 0)
    SrpIndex.build(corpus.filter($"vec_id" % 2 === 1),
      $"vec_id", $"embedding", path, nBits = 4)
    val tail = corpus.filter($"vec_id" % 2 === 0)
    SrpIndex.append(tail, $"vec_id", $"embedding", path)
    SrpIndex.append(tail, $"vec_id", $"embedding", path) // replayed append
    def run() =
      SrpIndex.probe(spark, path, batch, $"vec_id", $"embedding",
          threshold = 0.35)
        .as[(Long, Long, Double)].collect().toSet
    val before = run()
    assert(before.nonEmpty)
    val stats = SrpIndex.compact(spark, path)
    assert(stats.dirsCompacted > 0)
    assert(filesPerDir(s"$path/buckets").values.forall(_ == 1))
    assert(filesPerDir(s"$path/vectors").values.forall(_ == 1))
    assert(run() === before)
  }

  test("IvfIndex.compact: one file per cell, topK identical, dup rows collected") {
    val path = tmpDir("graft-ivf-compact")
    val corpus = emb.filter($"vec_id" % 4 =!= 0)
    val queries = emb.filter($"vec_id" % 4 === 0).limit(5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    IvfIndex.build(corpus.filter($"vec_id" % 2 === 1),
      $"vec_id", $"embedding", path, nCells = 8)
    val tail = corpus.filter($"vec_id" % 2 === 0)
    IvfIndex.append(tail, $"vec_id", $"embedding", path)
    IvfIndex.append(tail, $"vec_id", $"embedding", path) // replayed append
    // the replay duplicated (id, vec) rows (in the delta tail) —
    // compaction must fold the tail and collapse the duplicates
    val rawRows = graft.pipeline.IndexMaintenance
      .readAllWithDelta(spark, s"$path/cells").count()
    def run() =
      IvfIndex.topK(spark, path, queries, k = 5, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect().toSet
    val stats = IvfIndex.compact(spark, path)
    assert(stats.dirsCompacted > 0)
    assert(filesPerDir(s"$path/cells").values.forall(_ == 1))
    val compactRows = spark.read.parquet(s"$path/cells").count()
    assert(compactRows < rawRows, "duplicate vector rows must be collected")
    assert(compactRows === corpus.count())
    // fresh single-copy index as the ground truth for topK equality
    val fresh = tmpDir("graft-ivf-compact-fresh")
    IvfIndex.build(corpus.filter($"vec_id" % 2 === 1),
      $"vec_id", $"embedding", fresh, nCells = 8)
    IvfIndex.append(tail, $"vec_id", $"embedding", fresh)
    val expected = IvfIndex.topK(spark, fresh, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(run() === expected,
      "topK after compact must equal the single-copy index")
  }

  test("delta-tail lifecycle: file counts stay bounded across many batches") {
    // the IndexSoak claim, pinned at spec scale: N ingestBatches with the
    // runBatch compaction policy (compact every `every`) must never
    // accumulate more than one file per shard dir + `every` tail files
    // per table — unbounded growth here is the 500 ms-trigger failure
    // mode the LSM tail exists to prevent
    val path = tmpDir("graft-lsh-lifecycle")
    val corpus = docs.select($"doc_id", $"text")
    LshIndex.build(corpus.limit(1), $"doc_id", $"text", path,
      shingleSize = 5, numHashes = 128, bands = 16)
    val every = 4
    def tail = graft.pipeline.IndexMaintenance
      .deltaFiles(spark, s"$path/buckets").size +
      graft.pipeline.IndexMaintenance.deltaFiles(spark, s"$path/shingles").size
    var maxTail = 0
    for (b <- 0 until 12) {
      val batch = corpus.filter($"doc_id" % 16 === b.toLong)
        .select(($"doc_id" + b.toLong * 1000000L).as("doc_id"),
          concat($"text", lit(s" lc$b")).as("text"))
      LshIndex.ingestBatch(spark, path, batch, $"doc_id", $"text").unpersist()
      if (b > 0 && b % every == 0) LshIndex.compact(spark, path)
      maxTail = math.max(maxTail, tail)
    }
    assert(maxTail <= 2 * (every + 1),
      s"tail files must stay bounded by the compaction cadence, saw $maxTail")
    LshIndex.compact(spark, path)
    assert(tail === 0, "compact must fold the whole tail")
    assert(filesPerDir(s"$path/buckets").values.forall(_ == 1),
      "every shard dir back to one file after compact")
    val sh = spark.read.parquet(s"$path/shingles")
    assert(sh.count() === sh.select("id").distinct().count(),
      "exactly one signature row per id after compact")
  }

  test("replayed append into FRESH shard dirs converges to one copy (IndexSoak bug)") {
    // the fold coalesces each directory's rows to one file; when the fold
    // CREATES the directory, compactTable's >= minFiles guard skips it —
    // so a replayed append whose ids land in previously-empty shards used
    // to bake its duplicates into a single-file dir no later compaction
    // rewrote. foldDelta's full-row dedupe closes it; this pins the case.
    val path = tmpDir("graft-lsh-freshdir-replay")
    // single-doc build: almost every shard directory starts EMPTY
    LshIndex.build(docs.limit(1), $"doc_id", $"text", path,
      shingleSize = 5, numHashes = 128, bands = 16)
    val batch = docs.filter($"doc_id" % 16 === 3).limit(30)
      .select(($"doc_id" + 7000000L).as("doc_id"),
        concat($"text", lit(" fresh")).as("text"))
    LshIndex.append(batch, $"doc_id", $"text", path)
    LshIndex.append(batch, $"doc_id", $"text", path) // crash replay
    LshIndex.compact(spark, path)
    val sh = spark.read.parquet(s"$path/shingles")
    assert(sh.count() === sh.select("id").distinct().count(),
      "replayed rows must converge to one copy per id after compact")
    val bk = spark.read.parquet(s"$path/buckets")
    assert(bk.count() === bk.distinct().count(),
      "replayed bucket rows must converge after compact")
  }

  test("readWithDelta: unpartitioned layout falls back to a filtered root read") {
    // the listing-level prune expects partCol=v directories; a table
    // written UNPARTITIONED (data files at the root) has none, and the
    // prune would silently return an empty base — the fallback must keep
    // the old root-read + filter shape correct instead
    val table = s"${tmpDir("graft-rwd-flat")}/grams"
    (0 until 100).map(i => (i.toLong, i % 8)).toDF("id", "shard")
      .coalesce(1).write.parquet(table)
    val got = graft.pipeline.IndexMaintenance
      .readWithDelta(spark, table, "shard", Seq(2, 5))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0 until 100).filter(i => i % 8 == 2 || i % 8 == 5)
      .map(_.toLong))
  }

  test("readWithDelta: partitioned layout with no hit dirs is genuinely empty") {
    val table = s"${tmpDir("graft-rwd-miss")}/grams"
    (0 until 20).map(i => (i.toLong, i % 2)).toDF("id", "shard")
      .write.partitionBy("shard").parquet(table)
    val got = graft.pipeline.IndexMaintenance
      .readWithDelta(spark, table, "shard", Seq(7, 9))
    assert(got.count() === 0L)
  }

  test("invalidateSchema: a same-path rebuild with a changed schema is served fresh") {
    val root = tmpDir("graft-rwd-rebuild")
    val table = s"$root/grams"
    (0 until 10).map(i => (i.toLong, i % 2)).toDF("id", "shard")
      .write.partitionBy("shard").parquet(table)
    // pin the v1 schema in the cache
    val v1 = graft.pipeline.IndexMaintenance
      .readWithDelta(spark, table, "shard", Seq(0, 1))
    assert(v1.columns.toSet === Set("id", "shard"))
    // overwrite in place with a WIDER schema (what a rebuild does), then
    // invalidate — the next read must see the new column, not nulls
    (0 until 10).map(i => (i.toLong, s"x$i", i % 2)).toDF("id", "extra", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(table)
    graft.core.Memo.invalidate(root)
    val v2 = graft.pipeline.IndexMaintenance
      .readWithDelta(spark, table, "shard", Seq(0, 1))
    assert(v2.columns.toSet === Set("id", "extra", "shard"))
    assert(v2.filter($"extra".isNull).count() === 0L,
      "a stale pinned schema would silently null the new column")
  }

  test("invalidateSchema also drops the pinned delta-TAIL schema") {
    // the tail schema pins after the first read that sees a tail; a
    // same-path rebuild that changes the schema must drop BOTH pins or
    // the next tail read silently nulls the new column
    val root = tmpDir("graft-rwd-tail-rebuild")
    val table = s"$root/grams"
    (0 until 10).map(i => (i.toLong, i % 2)).toDF("id", "shard")
      .write.partitionBy("shard").parquet(table)
    graft.pipeline.IndexMaintenance.appendDelta(
      Seq((100L, 0)).toDF("id", "shard"), table)
    // pin the v1 tail schema in the cache
    val v1 = graft.pipeline.IndexMaintenance
      .readWithDelta(spark, table, "shard", Seq(0, 1))
    assert(v1.select("id").as[Long].collect().contains(100L))
    // rebuild base AND tail with a WIDER schema
    org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(s"${table}_delta"))
    (0 until 10).map(i => (i.toLong, s"x$i", i % 2)).toDF("id", "extra", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(table)
    graft.pipeline.IndexMaintenance.appendDelta(
      Seq((200L, "x200", 0)).toDF("id", "extra", "shard"), table)
    graft.core.Memo.invalidate(root)
    val v2 = graft.pipeline.IndexMaintenance
      .readWithDelta(spark, table, "shard", Seq(0, 1))
    assert(v2.columns.toSet === Set("id", "extra", "shard"))
    assert(v2.filter($"id" === 200L && $"extra".isNull).count() === 0L,
      "a stale pinned TAIL schema would silently null the tail's new column")
  }
}
