package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the on-disk form of [[IvfPq]], completing
  * the ANN tier triple the other families already have (one-shot
  * [[Similarity.ivfTopK]] ↔ [[IvfIndex]]; one-shot [[IvfPq]] ↔ this).
  *
  * [[IvfPq]] refits codebooks and re-encodes the corpus per call; at
  * 100 TB the encode pass alone reads every vector. This index pays it
  * once:
  *
  *   - `build` fits the model, writes it as two tiny tables
  *     (`path/coarse`: cell → centroid; `path/pq`: (j, cid) → subspace
  *     centroid) plus `path/meta`, and encodes the corpus
  *     `partitionBy("cell")` — 8 bytes of codes per vector in one
  *     parquet directory per cell. THE VECTORS ARE NOT STORED: the
  *     index is the codes, a ~32× byte reduction on 64-dim float
  *     corpora — the tier where a trillion-vector corpus fits on disk
  *     budgets the raw vectors never would.
  *   - `topK` reads the model (metadata-scale), builds each query's
  *     per-probed-cell residual LUTs on the driver, and ADC-scans ONLY
  *     the probed cells' code files — partition-directory prune, so
  *     probe I/O tracks `nProbe/nCells` of CODE bytes regardless of
  *     corpus size.
  *   - `append` admits new vectors without refitting: encode against
  *     the stored model (one row-local pass over the batch), append
  *     into the cell directories — single-task writes, the batch-append
  *     shape ([[LshIndex]]'s discipline).
  *
  * Results are IDENTICAL to [[IvfPq.adcTopK]] for the same model
  * (spec-asserted), so the persisted path inherits the one-shot path's
  * oracle and recall bounds. */
object IvfPqIndex {

  /** Build at `path` (overwrites): model tables + cell-partitioned
    * codes. `repartition(cell)` keeps one file per cell per shuffle
    * partition — the [[IvfIndex.build]] file-count lever. */
  def build(
      corpus: DataFrame,
      id: Column,
      vec: Column,
      path: String,
      dim: Int,
      nCells: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = IvfPq.fit(corpus, id, vec, dim, nCells, m, ksub, iters)
    IndexMeta.write(spark, path, "dim" -> dim, "n_cells" -> nCells, "m" -> m, "ksub" -> ksub)
    model.coarse.zipWithIndex
      .map { case (c, cell) => (cell, c) }.toDF("cell", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    (for {
      (cb, j) <- model.pq.centroids.zipWithIndex
      (c, cid) <- cb.zipWithIndex
    } yield (j, cid, c)).toDF("j", "cid", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    IvfPq.encode(corpus, id, vec, model)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    graft.core.Memo.invalidate(path) // a re-build must not serve the old model
  }

  /** The stored model, reconstructed from the two centroid tables —
    * metadata-scale driver reads, memoized per path (the model is
    * immutable after [[build]], which invalidates the memo). */
  def readModel(spark: SparkSession, path: String): IvfPq.Model =
    graft.core.Memo("ivfpq.model", path, ()) {
      val Seq(dim, nCells, m, ksub) = IndexMeta.read(spark, path, "dim", "n_cells", "m", "ksub")
      val coarse = spark.read.parquet(s"$path/coarse")
        .select("cell", "cvec").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq)
        .sortBy(_._1).map(_._2).toIndexedSeq
      val pqRows = spark.read.parquet(s"$path/pq")
        .select("j", "cid", "c").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toIndexedSeq))
      val pq = (0 until m).map { j =>
        pqRows.filter(_._1 == j).sortBy(_._2).map(_._3).toIndexedSeq
      }.toIndexedSeq
      IvfPq.Model(dim, nCells, coarse, Pq.Model(dim, m, ksub, pq))
    }

  /** Append new vectors — encode against the stored model (no refit, no
    * corpus re-read), single-task write into the cell directories.
    * Returns the appended row count. */
  def append(batch: DataFrame, id: Column, vec: Column, path: String): Long = {
    val spark = batch.sparkSession
    val model = readModel(spark, path)
    val codes = IvfPq.encode(batch, id, vec, model).persist()
    try {
      val n = codes.count()
      // delta tail — ONE plain file per batch; compact() folds it in
      IndexMaintenance.appendDelta(codes, s"$path/codes")
      n
    } finally { codes.unpersist(); () }
  }

  /** Compact — each `cell=N` directory collapses to one file with one
    * codes row per id (see [[IndexMaintenance]]). */
  def compact(spark: SparkSession, path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.foldDelta(spark, s"$path/codes", "cell") +
      IndexMaintenance.compactTable(spark, s"$path/codes",
        _.groupBy("id").agg(first(col("codes")).as("codes")))

  /** The cell-pruned codes scan a probe set touches — exposed so callers
    * (and specs) can assert the directory pruning. */
  def prunedCodes(spark: SparkSession, path: String, cells: Seq[Int]): DataFrame =
    IndexMaintenance.readWithDelta(spark, s"$path/codes", "cell", cells)

  /** ADC top-k against the built index: one model read (cached), driver
    * LUTs, one pruned codes scan — output identical to
    * [[IvfPq.adcTopK]] over the same model. */
  def topK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      qid: Column,
      qvec: Column,
      k: Int,
      nProbe: Int): DataFrame = {
    val model = readModel(spark, path)
    val codes = IndexMaintenance.readAllWithDelta(spark, s"$path/codes")
      .select(col("id"), col("cell"), col("codes"))
    IvfPq.adcTopK(queries, qid, qvec, codes, model, nProbe, k)
  }
}
