package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Chunking, LshIndex, SpanIndex}
import graft.streaming.{Curation, CurationConfig}

/** Pins the generated-class compile count of a steady-state curation
  * micro-batch (span cut + LSH dedup, the `curate_stream` shape at a few
  * dozen documents).
  *
  * The batch-local chains plan interpreted ([[graft.pipeline.PlanUtil]]):
  * Spark's JVM-wide codegen cache holds 100 entries keyed by (class
  * loader, source), and a codegen'd batch needed ~190, so every batch
  * recompiled its whole working set. Compiles are plan-determined and
  * boot-stable; a plan change or a Spark upgrade that stops honoring
  * `spark.sql.codegen.factoryMode` fails here while walls look flat. The
  * job count is pinned exactly: interpreted planning must not change what
  * runs. */
class CodegenBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Measured on the interpreted chains; the same batch planned with
    * codegen compiled 157 classes. */
  private val MeasuredCompiles = 0
  /** Measured with codegen and interpreted alike. */
  private val MeasuredJobs = 26

  private val words = IndexedSeq("the", "and", "of", "river", "stone",
    "garden", "window", "market", "letter", "summer", "engine", "harbor",
    "violin", "meadow", "castle", "pepper", "silver", "thunder", "lantern",
    "orchard", "canyon", "feather", "mirror", "compass", "velvet")

  /** Deterministic 40-80 word documents over a small vocabulary. */
  private def doc(i: Int): String = {
    val rnd = new scala.util.Random(i)
    Seq.fill(40 + rnd.nextInt(41))(words(rnd.nextInt(words.size)))
      .mkString(" ")
  }

  /** A batch of documents read back from parquet, as the stream reads its
    * records from the log (a local relation would plan differently). */
  private def batch(dir: String, ids: Range) = {
    val p = s"$dir/batch-${ids.start}"
    ids.map(i => (i.toLong, doc(i))).toDF("id", "text").write.parquet(p)
    spark.read.parquet(p)
  }

  test("a steady-state curation batch compiles within its codegen budget") {
    val dir = tmpDir("graft-codegen-budget")
    val corpus = (0 until 48).map(i => ((1L << 50) + i, doc(i)))
      .toDF("doc_id", "text")
    SpanIndex.build(corpus, $"doc_id", $"text", s"$dir/span", k = 5)
    LshIndex.build(indexChunks(corpus), $"chunk_uid", $"chunk_text", s"$dir/lsh",
      shingleSize = 5, numHashes = 128, bands = 16)
    val cfg = CurationConfig(minTokens = 30, maxTokens = 90,
      spanIndexPath = Some(s"$dir/span"))
    def curate(ids: Range): Long =
      Curation.curateBatch(spark, s"$dir/lsh", batch(dir, ids),
        col("id"), col("text"), cfg)(_.count())
    assert(curate(100 until 124) > 0, "precondition: the batch curates rows")
    val (_, js) = JobStats.measure(spark.sparkContext)(curate(200 until 224))
    info(s"second batch: ${js.compiles} compiles, ${js.jobs} jobs")
    assert(js.compiles <= MeasuredCompiles + 2,
      s"a steady curation batch compiled ${js.compiles} generated classes " +
        s"(budget ${MeasuredCompiles + 2}, measured $MeasuredCompiles): the " +
        "batch-local chains no longer plan interpreted")
    assert(js.jobs == MeasuredJobs,
      s"${js.jobs} jobs, measured $MeasuredJobs: ${js.records.map(_.site)}")
  }

  /** The standing corpus as LSH index rows, chunked like the stream. */
  private def indexChunks(docs: org.apache.spark.sql.DataFrame) =
    Chunking.chunkTokens(
        docs.select($"doc_id".as("id"), $"text"), $"id", $"text", 64, 16)
      .withColumn("chunk_uid", Curation.chunkUid($"id", $"chunk_id"))
}
