package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import graft.Sessions
import graft.core.catalog.Warehouse
import graft.streaming.{Curation, CurationConfig, StreamIngest}

/** Cross-JVM crash/replay harness for the COMPOSED curation pipeline
  * ([[graft.streaming.Curation]]) — the end-to-end sibling of
  * [[ConsumeCrash]]: each run is one process in the exactly-once story, so
  * `CurateCrashSpec` can prove that a batch which ran the ENTIRE body
  * (gopher → chunk → LSH ingest → curated append) but never committed is
  * replayed from a fresh JVM into a no-op — no curated chunk lost, none
  * double-appended, no dedup verdict flipped.
  *
  * {{{ runMain graft.tools.CurateCrash <crash|resume> <whDir> <ckptDir> <indexPath> <outFile> [spanIndexPath|-] [srpIndexPath|-] [dsir|-] }}}
  *
  * The optional trailing args switch on the span-cut and embedding
  * near-dup stages of [[Curation.curateBatch]] (`-` = off) and the
  * fitted-DSIR `extraFilter` stage (`dsir`), so the same crash/replay
  * proof runs over the FULL composition.
  *
  *   - `crash`: drain once; the foreachBatch body COMPLETES (curated
  *     append + index append both landed) and then throws — the worst
  *     crash point, maximally after the side effects, before the commit.
  *   - `resume`: drain normally from the same checkpoint; the engine
  *     replays the crashed batchId first, then delivers anything new.
  *
  * Output lines: `batchId nRecords` per delivered batch. The curation
  * config matches the spec's short synthetic documents (the published
  * gopher bands would reject them — overridden explicitly, as the library
  * requires). */
object CurateCrash {

  /** Shared by harness and spec so both sides curate identically. */
  val TestConfig: CurationConfig = CurationConfig(
    minTokens = 5, maxTokens = 500,
    minMeanWordLen = 2.0, maxMeanWordLen = 12.0,
    minAlphaFrac = 0.5, minStopwords = 0,
    chunkSize = 16, overlap = 4,
    threshold = 0.6)

  /** Fixed two-document fit corpus for the `dsir` stage: both crash and
    * resume JVMs re-fit the SAME model from these literals, so the
    * extraFilter is a pure, replay-stable function of the document — the
    * contract [[CurationConfig.extraFilter]] documents. Fruit vocabulary
    * is the target; military-alphabet vocabulary is raw-only, so its λ
    * buckets go negative and a fruit/neutral doc scores ≥ 0. */
  val FitTarget: String =
    "apple banana cherry durian elder figs grape honey icecream jackfruit " +
      "kiwi lemon mango nectar orange peach quince raspberry strawberry tomato"
  val FitRaw: String =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"

  /** The fitted DSIR model both JVMs derive identically (deterministic
    * fit over the literal corpus above). */
  def testModel(spark: SparkSession): graft.pipeline.Dsir.Model = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    graft.pipeline.Dsir.fit(
      Seq((1L, FitTarget, true), (2L, FitRaw, false))
        .toDF("id", "text", "is_target"),
      col("text"), col("is_target"), nBuckets = 16)
  }

  /** The `dsir` stage's extraFilter: rounded fitted log weight ≥ 0. */
  def dsirFilter(spark: SparkSession): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    round(graft.pipeline.Dsir.logWeight(testModel(spark), col("text")), 6)
      .geq(lit(0.0))
  }

  /** Deterministic fake featurizer over the document text — a pure
    * per-row function of the record (the replay contract for
    * `CurationConfig.embedding`): 16 hash-derived floats in [-1, 1], so
    * identical texts embed identically (cosine 1) and unrelated texts
    * land near-orthogonal. */
  def fakeEmbedding: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    transform(sequence(lit(1), lit(16)),
      i => ((pmod(xxhash64(col("text"), i), lit(1000)) - lit(500))
        .cast("double") / 500.0).cast("float"))
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, whDir, ckpt, indexPath, outFile) = args.take(5)
    val spanIdx = args.lift(5).filter(_ != "-")
    val srpIdx = args.lift(6).filter(_ != "-")
    val dsirOn = args.lift(7).contains("dsir")
    val spark = Sessions.local(s"graft-curate-$mode", 2)
    val wh = Warehouse(whDir)

    val cfg = TestConfig.copy(
      spanIndexPath = spanIdx,
      srpIndexPath = srpIdx,
      embedding = srpIdx.map(_ => fakeEmbedding),
      extraFilter = if (dsirOn) Some(dsirFilter(spark)) else None)
    val q = StreamIngest.consumeAvailableNow(spark, wh, "docs", ckpt) {
      (records, batchId) =>
        Curation.runBatch(spark, wh, "curated", indexPath, records, batchId,
          cfg)
        Files.write(Paths.get(outFile),
          s"$batchId ${records.count()}\n".getBytes(UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        // the injected failure fires AFTER every side effect of the batch
        // (curated append + index append) — the engine never commits it
        if (mode == "crash") throw new RuntimeException("injected crash")
    }
    val failed =
      try { q.awaitTermination(120000); false }
      catch { case _: Exception => true }
    spark.stop()
    if (mode == "crash") sys.exit(if (failed) 0 else 3)
    sys.exit(if (failed) 2 else 0)
  }
}
