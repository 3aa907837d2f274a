package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Persisted SRP-LSH index for INCREMENTAL embedding near-dup detection —
  * the embedding-side sibling of [[LshIndex]].
  *
  * [[Dedup.embeddingNearDupPairs]] re-hashes the whole corpus on every
  * call; a living corpus should pay the corpus-side pass ONCE:
  *
  *   - `build` computes each vector's sign-random-projection bucket and
  *     persists `path/buckets` (id rows under `bucket=N` directories —
  *     the 2^nBits-ary twin of [[IvfIndex]]'s `cell=N` layout) and
  *     `path/vectors` (id, v under `shard=pmod(id, numShards)`
  *     directories) for the exact-cosine verify.
  *   - `append` adds a batch's signatures — the steady-state ingest step,
  *     touching only the new vectors.
  *   - `probe` checks a new batch against the index: the batch's DISTINCT
  *     buckets (≤ min(batch, 2^nBits) values, collected driver-side —
  *     metadata-scale) prune the bucket read to exactly the hit
  *     directories, batch buckets BROADCAST against that pruned scan (no
  *     corpus shuffle), candidates carry only 8-byte ids, and corpus
  *     vectors re-attach solely for candidate id shards.
  *
  * `nBits` and the vector shard count are stamped into `path/meta` at
  * build time and read back on probe/append, so a probe can never hash
  * with a different plane family — or prune with a different sharding —
  * than the index it queries (the planes themselves are deterministic
  * splitmix64 values per (bit, dim) — see
  * [[graft.functions.VectorFunctions.plane]]).
  *
  * Degenerate-bucket guard: same shape as [[LshIndex.probe]] — corpus
  * bucket sizes are counted as DISTINCT ids, only for buckets the batch
  * actually hits, and buckets larger than `maxBucketSize` are dropped as
  * non-discriminative; distinct-id counting plus the by-id dedupe of the
  * vector side keep probe's one-row-per-cross-pair contract under
  * replayed appends. */
object SrpIndex {

  private def signatures(
      df: DataFrame, id: Column, vec: Column, nBits: Int): DataFrame =
    Dedup.spread(df.select(id.cast("long").as("id"), vec.as("v")))
      // int partition-column values round-trip through directory names
      // verbatim (nBits ≤ 30 by construction: srp produces < 2^nBits)
      .withColumn("bucket", V.srpBucket(col("v"), nBits).cast("int"))

  /** `singleTask`: the APPEND shape — batch-scale rows write from one
    * task per table (no `repartition` exchange, same one-file-per-hit-
    * directory layout) and the two tables write concurrently so one
    * commit's fixed latency hides under the other's. [[build]] keeps the
    * exchange (corpus-scale parallelism). */
  private def writeSignatures(
      sig: DataFrame, numShards: Int, path: String, mode: String,
      singleTask: Boolean = false): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def write(df: DataFrame, part: String, table: String): Unit =
      if (singleTask)
        // delta tail — ONE plain file per table per batch; see
        // [[IndexMaintenance.appendDelta]] / [[LshIndex]]'s layout note
        IndexMaintenance.appendDelta(df, s"$path/$table")
      else
        df.repartition(col(part))
          .write.mode(mode).partitionBy(part).parquet(s"$path/$table")
    val wB = Future {
      write(sig.select("id", "bucket"), "bucket", "buckets")
    }
    val wV = Future {
      write(sig.select(col("id"), col("v"))
          .withColumn("shard", pmod(col("id"), lit(numShards.toLong)).cast("int")),
        "shard", "vectors")
    }
    Await.result(wB.zip(wV), Duration.Inf)
    ()
  }

  /** Build the index at `path` (overwrites). One pass over the corpus. */
  def build(
      corpus: DataFrame, id: Column, vec: Column, path: String,
      nBits: Int = 8, numShards: Int = 64): Unit = {
    IndexMeta.write(corpus.sparkSession, path, "n_bits" -> nBits, "num_shards" -> numShards)
    writeSignatures(signatures(corpus, id, vec, nBits), numShards, path,
      "overwrite")
  }

  /** (nBits, numShards) of the index at `path`. */
  private def readMeta(spark: SparkSession, path: String): (Int, Int) =
    IndexMeta.read(spark, path, "n_bits", "num_shards") match { case Seq(b, n) => (b, n) }

  /** Add a batch to the index — the steady-state ingest step. */
  def append(batch: DataFrame, id: Column, vec: Column, path: String): Unit = {
    val (nBits, numShards) = readMeta(batch.sparkSession, path)
    writeSignatures(signatures(batch, id, vec, nBits), numShards, path,
      "append", singleTask = true)
  }

  /** The full steady-state embedding-ingest step — the vector twin of
    * [[LshIndex.ingestBatch]], shaped as a `foreachBatch` body:
    *
    *   1. probe the batch against the index, drop every vector with a
    *      near-dup already in the corpus;
    *   2. dedup WITHIN the batch (same SRP planes, keep-lowest-id);
    *   3. append the survivors' signatures;
    *   4. return the survivors (persisted — prefer [[curateInto]] in a
    *      long-lived query; a raw caller unpersists after its sink).
    *
    * Replay-safe exactly like the LSH side: probe drops id-equal pairs,
    * so a replayed batch whose append already landed re-derives the SAME
    * survivor set; redundant signature rows change no verdict (distinct-id
    * guards, by-id vector dedupe) and are collected by [[compact]]. */
  def ingestBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double = 0.95,
      maxBucketSize: Long = 2000): DataFrame = {
    // batch-local planning on the conf-isolated clone — see
    // PlanUtil.batchLocalSession
    val planner = PlanUtil.batchLocalSession(spark)
    ingestBatchImpl(planner, path, PlanUtil.onSession(batch, planner),
      id, vec, threshold, maxBucketSize)
  }

  private def ingestBatchImpl(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double,
      maxBucketSize: Long): DataFrame = {
    val (nBits, numShards) = readMeta(spark, path)
    // sign ONCE (the LshIndex.ingestCore fused-signature discipline): the
    // corpus probe, the within-batch self-join and the append all read
    // this persisted frame — the old shape re-hashed the batch vectors
    // three times and re-analyzed the caller's lineage per use
    val bsig = signatures(batch, id, vec, nBits).persist()
    try {
      // first action: the bucket hit list materializes the cache
      val hitBuckets = bsig.select("bucket")
        .distinct().collect().map(_.getInt(0)).toSeq
      val bsigT = PlanUtil.truncateLineage(bsig)
      // verdict id sets come back to the driver (batch-bounded) and
      // re-enter as codegen reference objects — flat row-local filters
      // instead of a broadcast anti-join per consumer
      val dupIds = probeSigned(spark, path, bsigT, hitBuckets, numShards,
          threshold, maxBucketSize)
        .select(col("batch_id")).distinct()
        .collect().map(_.getLong(0))
      java.util.Arrays.sort(dupIds)
      def without(df: DataFrame, c: Column, ids: Array[Long]): DataFrame =
        if (ids.isEmpty) df
        else df.filter(!graft.functions.SetFunctions.inLongSet(c, ids))
      // within-batch self-join over the SAME cached signatures — bucket
      // collide then exact cosine, keep-lowest-id (embeddingNearDupPairs'
      // rule, its signature pass already paid)
      val cleanSig = without(bsigT, col("id"), dupIds)
      val a = cleanSig.select(col("bucket"), col("id").as("id_a"),
        col("v").as("va"))
      val b = cleanSig.select(col("bucket"), col("id").as("id_b"),
        col("v").as("vb"))
      val loserIds = a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .filter(V.cosine(col("va"), col("vb")) >= threshold)
        .select(col("id_b")).distinct()
        .collect().map(_.getLong(0))
      java.util.Arrays.sort(loserIds)
      // append IS the cached signatures restricted to survivors — no
      // re-hash of the survivor vectors
      writeSignatures(without(cleanSig, col("id"), loserIds), numShards,
        path, "append", singleTask = true)
      val dropped = dupIds ++ loserIds
      java.util.Arrays.sort(dropped)
      // survivors derive from the caller's frame and id filters only —
      // independent of the signature cache, so freeing it is safe even
      // before the caller's first action
      PlanUtil.truncateLineage(without(batch, id.cast("long"), dropped))
        .persist()
    } finally { bsig.unpersist(); () }
  }

  /** [[ingestBatch]] with the persist lifecycle owned internally
    * (try/finally unpersist) — see [[LshIndex.curateInto]]. */
  def curateInto[T](
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double = 0.95,
      maxBucketSize: Long = 2000)(sink: DataFrame => T): T = {
    val survivors =
      ingestBatch(spark, path, batch, id, vec, threshold, maxBucketSize)
    try sink(survivors)
    finally { survivors.unpersist(); () }
  }

  /** Compact the index — see [[LshIndex.compact]] / [[IndexMaintenance]]:
    * buckets collapse to distinct id rows per bucket directory, vectors to
    * one row per id; probe results are unchanged. */
  def compact(spark: SparkSession, path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.foldDelta(spark, s"$path/buckets", "bucket") +
      IndexMaintenance.foldDelta(spark, s"$path/vectors", "shard") +
      IndexMaintenance.compactTable(spark, s"$path/buckets", _.distinct()) +
      IndexMaintenance.compactTable(spark, s"$path/vectors",
        _.groupBy("id").agg(first(col("v")).as("v")))

  /** The bucket-pruned scan a probe's bucket set touches — exposed so
    * callers (and specs) can assert the directory pruning. */
  def prunedBuckets(spark: SparkSession, path: String, buckets: Seq[Int]): DataFrame =
    IndexMaintenance.readWithDelta(spark, s"$path/buckets", "bucket", buckets)

  /** The shard-pruned vector-table scan — see [[prunedBuckets]]. */
  def prunedVectors(spark: SparkSession, path: String, shards: Seq[Int]): DataFrame =
    IndexMaintenance.readWithDelta(spark, s"$path/vectors", "shard", shards)

  /** Near-duplicate pairs between a new batch and the indexed corpus:
    * (batch_id, corpus_id, cosine) with cosine ≥ `threshold`. Bucket
    * equality generates candidates (identical recall to the one-shot
    * [[Dedup.embeddingNearDupPairs]]); exact cosine verifies. Id-equal
    * pairs are dropped so a replayed batch that already appended its
    * signatures cannot self-match. */
  def probe(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      vec: Column,
      threshold: Double = 0.95,
      maxBucketSize: Long = 2000): DataFrame = {
    val (nBits, numShards) = readMeta(spark, path)
    val bsig = signatures(batch, id, vec, nBits)
    // the batch's distinct buckets — bounded by min(batch rows, 2^nBits);
    // this IS the candidate surface, so the prune is exact: only hit
    // bucket directories are ever opened (IvfIndex.topK's probed-cell
    // shape, with SRP buckets as the cells)
    val hitBuckets = bsig.select("bucket")
      .distinct().collect().map(_.getInt(0)).toSeq
    probeSigned(spark, path, bsig, hitBuckets, numShards, threshold,
      maxBucketSize)
  }

  /** [[probe]] over a pre-signed batch frame (id, v, bucket) and its
    * collected bucket hit list — the entry point [[ingestBatch]] uses so
    * the batch is hashed exactly once across probe + self-join + append. */
  private def probeSigned(
      spark: SparkSession,
      path: String,
      bsig: DataFrame,
      hitBuckets: Seq[Int],
      numShards: Int,
      threshold: Double,
      maxBucketSize: Long): DataFrame = {
    val corpusKeys = prunedBuckets(spark, path, hitBuckets)
    val okBuckets = corpusKeys
      .join(broadcast(bsig.select("bucket").distinct()), Seq("bucket"))
      .groupBy("bucket")
      .agg(countDistinct(col("id")).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select("bucket")
    val candidates = corpusKeys
      .join(okBuckets, Seq("bucket"))
      .select(col("bucket"), col("id").as("corpus_id"))
      .join(broadcast(bsig.select(col("bucket"), col("id").as("batch_id"))),
        Seq("bucket"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .select("batch_id", "corpus_id")
      .distinct()
    // candidate id shards (guard deliberately skipped — a superset only
    // widens the prune); bounded by numShards, the sole extra action
    val idShards = corpusKeys
      .select(pmod(col("id"), lit(numShards.toLong)).cast("int").as("shard"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // dedupe by id before the verify join — replayed appends duplicate
    // (id, v) rows verbatim and must not duplicate output pairs
    val corpusVec = prunedVectors(spark, path, idShards)
      .join(candidates.select(col("corpus_id")).distinct(),
        col("id") === col("corpus_id"), "left_semi")
      .groupBy("id").agg(first(col("v")).as("v"))
    candidates
      .join(corpusVec.select(col("id").as("corpus_id"), col("v").as("__vc")),
        Seq("corpus_id"))
      .join(bsig.select(col("id").as("batch_id"), col("v").as("__vb")),
        Seq("batch_id"))
      .withColumn("cosine", V.cosine(col("__vb"), col("__vc")))
      .filter(col("cosine") >= threshold)
      .select(col("batch_id"), col("corpus_id"),
        round(col("cosine"), 6).as("cosine"))
  }
}
