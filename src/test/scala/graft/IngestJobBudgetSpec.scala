package graft

import graft.pipeline.{LshIndex, SpanIndex, SrpIndex}
import org.apache.spark.sql.functions._

/** Pins the steady-state per-micro-batch driver-JOB budget of the three
  * incremental index ingest chains.
  *
  * Wall clock on this box moves 2-10× with host steal; the scheduler-job
  * count of a fixed-size batch is plan-determined and boot-stable — and
  * it IS the per-batch fixed overhead (at a streaming trigger every job
  * is a driver round-trip against the scheduler floor). Round 18 cut
  * this budget deliberately (meta caches, driver-side shard listing,
  * pinned delta-tail schema, one shared gram aggregation, sign-once SRP
  * ingest); this spec is the regression guard: a future plan change that
  * silently re-adds listing/inference/re-aggregation jobs fails here
  * even when wall timings look flat.
  *
  * Bounds are the measured steady-state count + 2 jobs of headroom
  * (broadcast-build jobs can split or fuse across Spark point releases).
  * The FIRST batch after a build is deliberately unpinned — it fills the
  * schema/meta caches (one extra inference job each, paid once per JVM
  * per index, not per batch). */
class IngestJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Driver jobs started while `body` runs (count + call sites). */
  private def countJobs[T](body: => T): (Int, Seq[String]) = {
    val (_, js) = JobStats.measure(spark.sparkContext)(body)
    (js.jobs, js.records.map(_.site))
  }

  private def docBatch(ids: Range) =
    ids.map(i => (i.toLong, s"alpha beta gamma delta $i epsilon zeta eta theta " +
      s"iota kappa lambda mu nu xi omicron pi rho sigma tau"))
      .toDF("doc_id", "text")

  test("SpanIndex.ingestBatch steady state stays inside its job budget") {
    val path = tmpDir("graft-span-budget")
    SpanIndex.build(docBatch(0 until 8), $"doc_id", $"text", path, k = 3)
    // batch 1 fills the pinned-schema caches; batch 2 is the first to
    // see a delta tail and fills the tail-schema cache — both unpinned
    SpanIndex.ingestBatch(spark, path, docBatch(100 until 108),
      $"doc_id", $"text").unpersist()
    SpanIndex.ingestBatch(spark, path, docBatch(150 until 158),
      $"doc_id", $"text").unpersist()
    val (jobs, sites) = countJobs {
      SpanIndex.ingestBatch(spark, path, docBatch(200 until 208),
        $"doc_id", $"text").unpersist()
    }
    info(s"span ingest steady-state jobs: $jobs :: ${sites.mkString(" | ")}")
    assert(jobs <= 8, s"span ingest ran $jobs driver jobs (budget 8, " +
      "measured 6): a listing/inference/re-aggregation job crept back " +
      "into the chain")
  }

  test("LshIndex.ingestBatch steady state stays inside its job budget") {
    val path = tmpDir("graft-lsh-budget")
    LshIndex.build(docBatch(0 until 8), $"doc_id", $"text", path,
      shingleSize = 3, numHashes = 16, bands = 4)
    LshIndex.ingestBatch(spark, path, docBatch(100 until 108),
      $"doc_id", $"text").unpersist()
    LshIndex.ingestBatch(spark, path, docBatch(150 until 158),
      $"doc_id", $"text").unpersist()
    val (jobs, sites) = countJobs {
      LshIndex.ingestBatch(spark, path, docBatch(200 until 208),
        $"doc_id", $"text").unpersist()
    }
    info(s"lsh ingest steady-state jobs: $jobs :: ${sites.mkString(" | ")}")
    assert(jobs <= 17, s"lsh ingest ran $jobs driver jobs (budget 17, measured 15)")
  }

  test("SrpIndex.ingestBatch steady state stays inside its job budget") {
    val path = tmpDir("graft-srp-budget")
    def vecs(ids: Range) = ids.map(i =>
        (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    SrpIndex.build(vecs(0 until 8), $"vec_id", $"embedding", path, nBits = 4)
    SrpIndex.ingestBatch(spark, path, vecs(100 until 108),
      $"vec_id", $"embedding").unpersist()
    SrpIndex.ingestBatch(spark, path, vecs(150 until 158),
      $"vec_id", $"embedding").unpersist()
    val (jobs, sites) = countJobs {
      SrpIndex.ingestBatch(spark, path, vecs(200 until 208),
        $"vec_id", $"embedding").unpersist()
    }
    info(s"srp ingest steady-state jobs: $jobs :: ${sites.mkString(" | ")}")
    assert(jobs <= 15, s"srp ingest ran $jobs driver jobs (budget 15, measured 13)")
  }
}
