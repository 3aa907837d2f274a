package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Persisted inverted-file (IVF) ANN index.
  *
  * [[Similarity.ivfTopK]] retrains centroids and re-assigns the corpus on
  * every call — fine for one-shot queries, wrong at 100 TB where the
  * assignment pass alone reads the whole corpus. This index does the
  * expensive work ONCE:
  *
  *   - `build` trains the same deterministic centroids, assigns every row
  *     to its cell (one broadcast-join pass over the corpus), and writes
  *     the corpus `partitionBy("cell")` — one parquet directory per cell —
  *     plus a tiny centroids table.
  *   - `topK` reads the centroids (metadata-scale), picks each query's
  *     `nProbe` nearest cells, and scans ONLY those cells' files: the
  *     `cell IN (...)` filter is a partition-directory prune, so a probe
  *     of 2 of 16 cells reads ~1/8 of the corpus bytes no matter how big
  *     the corpus is. Candidate re-rank is the shared exact-cosine top-k.
  *   - `append` admits new vectors WITHOUT retraining: assign the batch
  *     to the EXISTING centroids (one broadcast pass over the batch
  *     only — the corpus is never re-read) and append into the cell
  *     directories. The returned [[AppendStats]] carries the staleness
  *     signal: when the batch's mean assigned-cosine falls well below
  *     the build-time mean, new data has drifted off the trained
  *     centroids and recall is decaying — time to re-`build`.
  *
  * Results are IDENTICAL to [[Similarity.ivfTopK]] for equal parameters
  * (same bounded orderBy+limit sample, same Lloyd iterations, same
  * tie-breaks) — spec-asserted, so the persisted path inherits the
  * in-memory path's recall bounds.
  */
object IvfIndex {

  /** Drift report from one [[append]]: how well the new batch fits the
    * centroids the index was built with. `drift` > 0 means the batch
    * sits farther from its assigned centroids than the build corpus did
    * (mean assigned-cosine dropped by that much); callers re-`build`
    * when it exceeds their recall tolerance. */
  final case class AppendStats(
      nAppended: Long,
      batchMeanCosine: Double,
      buildMeanCosine: Double) {
    def drift: Double = buildMeanCosine - batchMeanCosine
  }

  /** Build the index at `path` (overwrites): `path/centroids` (cell, cvec)
    * and `path/cells/cell=N/...` with (id, vec) rows. `repartition(cell)`
    * before the partitioned write yields one file per cell per shuffle
    * partition instead of one per input task — the file-count lever that
    * keeps a 1000-task build from writing 16k tiny files. */
  def build(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      path: String,
      nCells: Int = 16,
      sampleSize: Int = 2000,
      iterations: Int = 5): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.core.Memo.invalidate(path)
    val prepared = corpus.select(id.cast("long").as("id"), vec.as("vec"))
    val centroidDf =
      Similarity.trainCentroidsDf(prepared, nCells, sampleSize, iterations)
    centroidDf.write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = Similarity.assignCellsWithDist(prepared, centroidDf).persist()
    try {
      assigned.select("id", "vec", "cell")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
      // build-time mean assigned-cosine: the baseline append's drift
      // metric compares against (persisted so the agg re-reads cached
      // rows, not the corpus)
      val mean = assigned.agg(avg(col("cdist"))).head().getDouble(0)
      Seq(mean).toDF("build_mean_cosine")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    } finally assigned.unpersist()
  }

  /** Append a batch of new vectors — the steady-state ingest step.
    * Assignment uses the centroids as built (no retrain, no corpus
    * re-read); rows land in the existing `cell=N` directories so `topK`
    * probes see them immediately with the same directory prune. Returns
    * the batch's [[AppendStats]] — stamp it somewhere durable and
    * re-`build` when cumulative drift exceeds tolerance. */
  def append(
      batch: DataFrame,
      id: Column,
      vec: Column,
      path: String): AppendStats = {
    val spark = batch.sparkSession
    val centroidDf = spark.read.parquet(s"$path/centroids")
    val prepared = batch.select(id.cast("long").as("id"), vec.as("vec"))
    val assigned = Similarity.assignCellsWithDist(prepared, centroidDf).persist()
    try {
      // delta tail — ONE plain file per batch (cell as data column); see
      // IndexMaintenance. compact() folds it into the cell directories.
      IndexMaintenance.appendDelta(
        assigned.select("id", "vec", "cell"), s"$path/cells")
      val row = assigned.agg(
        count(lit(1)).as("n"), avg(col("cdist")).as("m")).head()
      val buildMean = spark.read.parquet(s"$path/stats")
        .select("build_mean_cosine").head().getDouble(0)
      val n = row.getLong(0)
      AppendStats(n,
        if (n == 0) buildMean else row.getDouble(1), buildMean)
    } finally assigned.unpersist()
  }

  /** Compact the index — see [[LshIndex.compact]] / [[IndexMaintenance]]:
    * each `cell=N` directory collapses to a single file with one (id, vec)
    * row per id, so a long append history (one file per cell per batch)
    * stops taxing every probe's file opens, and any duplicate rows a
    * replayed append or torn compact left are collected. */
  def compact(spark: SparkSession, path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.foldDelta(spark, s"$path/cells", "cell") +
      IndexMaintenance.compactTable(spark, s"$path/cells",
        _.groupBy("id").agg(first(col("vec")).as("vec")))

  /** The cell-pruned corpus scan a probe set touches — exposed so callers
    * (and specs) can assert the file pruning. `cells` is metadata-scale
    * (bounded by nCells). */
  def prunedCells(spark: SparkSession, path: String, cells: Seq[Int]): DataFrame =
    IndexMaintenance.readWithDelta(spark, s"$path/cells", "cell", cells)

  /** Approximate top-k against a built index. One driver-side centroid
    * read, one pruned corpus scan, one broadcast join, one window re-rank.
    * Output: (qid, neighbor_id, rank, cosine) — identical to
    * [[Similarity.ivfTopK]] with the build's parameters. */
  def topK(
      spark: SparkSession,
      path: String,
      queries: DataFrame, // (qid, qvec)
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val centroidDf = spark.read.parquet(s"$path/centroids")
    val probes = Similarity.probeCells(queries, centroidDf, nProbe)
    // the distinct probed-cell set is bounded by nCells — a metadata-scale
    // driver read that buys the partition-directory prune below
    val cells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val candidates = prunedCells(spark, path, cells)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .withColumn("cosine", V.cosine(col("qvec"), col("vec")))
    Similarity.rerank(candidates, k)
  }
}
