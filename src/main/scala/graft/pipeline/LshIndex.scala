package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Persisted MinHash-LSH index for INCREMENTAL near-dup detection.
  *
  * [[Dedup.minhashPairs]] re-shingles and re-signs the whole corpus on
  * every call — the right shape for a one-shot dedup, the wrong one for a
  * living corpus where each new crawl batch must be checked against
  * everything already ingested. At 100 TB the corpus-side signature pass
  * alone re-reads every document body; this index pays that cost ONCE:
  *
  *   - `build` computes each document's sorted shingle set and its LSH
  *     band keys, and persists BOTH — `path/shingles` (id, shingles) for
  *     exact-Jaccard verification and `path/buckets` (id, band, bucket)
  *     for candidate generation. The raw text is never needed again.
  *   - `append` adds a batch's signatures to the same directories — the
  *     steady-state ingest step, touching only the new documents.
  *   - `probe` checks a new batch against the index: the batch's band
  *     keys (16 bytes/row × bands — metadata-scale next to the corpus)
  *     BROADCAST against the index's bucket table, so the corpus-side
  *     candidate scan is a broadcast-hash-join with no corpus shuffle.
  *     Candidate pairs carry only 8-byte ids; shingle sets re-attach for
  *     the exact-Jaccard verify, and only for documents that appear in
  *     some candidate pair.
  *
  * '''Shard-pruned layout.''' Both tables are written with a `shard`
  * partition column — `pmod(bucket, numShards)` for buckets,
  * `pmod(id, numShards)` for shingles — so a probe reads ONLY the
  * directories its batch can possibly hit (`shard IN (...)` is a
  * partition-DIRECTORY prune, the same shape [[IvfIndex]] proves with its
  * `cell=N` layout). Without this, every probe re-reads the whole index:
  * O(corpus) bytes per crawl batch, growing with the corpus instead of
  * the batch. The shard sets handed to the prune are collected
  * driver-side but bounded by `numShards` — metadata-scale, exactly like
  * [[IvfIndex.topK]]'s probed-cell list. `numShards` is also the
  * file-count lever: `repartition(shard)` before the partitioned write
  * yields one file per shard per append, so raise it with corpus size
  * (64 here; O(corpus bytes / target file size) on a real cluster).
  *
  * Band parameters and the shard count are stamped into `path/meta` at
  * build time and read back on probe/append, so a probe can never
  * silently use a different hash family — or a different sharding — than
  * the index it queries.
  *
  * '''Id uniqueness contract.''' Document ids must be UNIQUE across
  * everything ever built/appended into one index: the verify step reads
  * one shingle set per id, so two different documents sharing an id would
  * make dedup verdicts depend on which row a scan happens to surface.
  * (Replayed appends are fine — they duplicate rows verbatim, so any pick
  * is the same value. The curation pipeline's packed chunk uids satisfy
  * uniqueness by construction.)
  *
  * Degenerate-bucket guard: a bucket shared by more than `maxBucketSize`
  * corpus documents is non-discriminative (stop-shingle collisions) and
  * would emit O(bucket) candidates per matching batch row; probe drops
  * such buckets, mirroring [[Dedup.minhashPairs]]. Sizes are counted as
  * DISTINCT ids over the ids-only bucket table, so a replayed `append`
  * (which duplicates index rows, never ids) cannot push a bucket over
  * the guard; the shingle side is likewise deduped by id before the
  * verify join, keeping probe's one-row-per-cross-pair contract under
  * replay. */
object LshIndex {

  /** Sorted distinct shingle sets: (id, shingles). Identical preparation
    * to [[Dedup.minhashPairs]] so probe results line up with the batch
    * pipeline bit-for-bit. */
  private def shingleSets(
      df: DataFrame, id: Column, text: Column, shingleSize: Int): DataFrame =
    Dedup.spread(df.select(id.cast("long").as("id"), text.as("__text")))
      .select(col("id"),
        array_sort(T.charShingles(col("__text"), shingleSize)).as("shingles"))

  /** LSH band keys from a shingle-set frame: (id, band, bucket). */
  private def bandKeys(sh: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sh.select(col("id"),
        posexplode(T.minhashBands(col("shingles"), numHashes, bands)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Persist a signed frame: `sh` (id, shingles) and its `keys`
    * (id, band, bucket) — already computed, so a caller holding both
    * ([[ingestBatch]]) pays no second minhash pass. The two tables go to
    * disjoint directories, so the writes run CONCURRENTLY — in a
    * streaming trigger each append's fixed stage-launch + commit latency
    * hides under the other's. */
  /** `singleTask` (the APPEND shape): a micro-batch's signature rows are
    * batch-scale, so `coalesce(1)` collapses each table's write to one
    * task (the dynamic-partition writer still emits one file per hit
    * shard) and skips the `repartition(shard)` exchange — two whole
    * shuffle stages of pure fixed overhead per batch. The corpus-scale
    * [[build]] keeps the exchange: there one task per shard is the
    * parallelism, not the overhead. */
  private def writeSignatures(
      sh: DataFrame, keys: DataFrame, numShards: Int,
      path: String, mode: String, singleTask: Boolean = false): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def write(df: DataFrame, table: String): Unit =
      if (singleTask)
        // delta tail: ONE plain file per table per batch (shard rides as a
        // data column), no dynamic-partition commit — vs one file per hit
        // shard directory, the difference between 2 and ~128 files per
        // micro-batch at a 500 ms trigger. compact() folds the tail into
        // the sharded base.
        IndexMaintenance.appendDelta(df, s"$path/$table")
      else
        df.repartition(col("shard"))
          .write.mode(mode).partitionBy("shard").parquet(s"$path/$table")
    val wSh = Future {
      StageTimers.timed("lsh_append_sh") {
        write(sh.withColumn("shard",
          pmod(col("id"), lit(numShards.toLong)).cast("int")), "shingles")
      }
    }
    val wKeys = Future {
      StageTimers.timed("lsh_append_keys") {
        write(keys.withColumn("shard",
          pmod(col("bucket"), lit(numShards.toLong)).cast("int")), "buckets")
      }
    }
    Await.result(wSh.zip(wKeys), Duration.Inf)
    ()
  }

  /** Build the index at `path` (overwrites). One pass over the corpus
    * text; everything the probe path needs is persisted. */
  def build(
      corpus: DataFrame,
      id: Column,
      text: Column,
      path: String,
      shingleSize: Int = 5,
      numHashes: Int = 128,
      bands: Int = 16,
      numShards: Int = 64): Unit = {
    IndexMeta.write(corpus.sparkSession, path, "shingle_size" -> shingleSize,
      "num_hashes" -> numHashes, "bands" -> bands, "num_shards" -> numShards)
    val sh = shingleSets(corpus, id, text, shingleSize)
    writeSignatures(sh, bandKeys(sh, numHashes, bands), numShards, path,
      "overwrite")
  }

  /** (shingleSize, numHashes, bands, numShards) of the index at `path`. */
  private def readMeta(spark: SparkSession, path: String): (Int, Int, Int, Int) =
    IndexMeta.read(spark, path, "shingle_size", "num_hashes", "bands", "num_shards") match {
      case Seq(s, h, b, n) => (s, h, b, n)
    }

  /** Add a batch to the index — the steady-state ingest step. Touches
    * only the new documents; the existing index files are untouched
    * (each append adds one file per hit shard directory — see
    * [[compact]] for keeping the per-directory file count bounded). */
  def append(batch: DataFrame, id: Column, text: Column, path: String): Unit = {
    val (shingleSize, numHashes, bands, numShards) =
      readMeta(batch.sparkSession, path)
    val sh = shingleSets(batch, id, text, shingleSize)
    writeSignatures(sh, bandKeys(sh, numHashes, bands), numShards, path,
      "append", singleTask = true)
  }

  /** The shard-pruned bucket-table scan a probe's shard set touches —
    * exposed so callers (and specs) can assert the directory pruning. */
  def prunedBuckets(spark: SparkSession, path: String, shards: Seq[Int]): DataFrame =
    prunedTable(spark, path, "buckets", shards)

  /** The shard-pruned shingle-table scan — see [[prunedBuckets]]. */
  def prunedShingles(spark: SparkSession, path: String, shards: Seq[Int]): DataFrame =
    prunedTable(spark, path, "shingles", shards)

  /** Sharded base (directory prune) ∪ unsharded delta tail — see
    * [[IndexMaintenance.readWithDelta]]. */
  private def prunedTable(
      spark: SparkSession, path: String, table: String, shards: Seq[Int]): DataFrame =
    IndexMaintenance.readWithDelta(spark, s"$path/$table", "shard", shards)

  /** The full steady-state ingest step, shaped as a `foreachBatch` body
    * for a streaming curation pipeline (the near-dup sibling of
    * [[graft.streaming.StreamDedup]], with UNBOUNDED history — the index
    * on disk is the state, so no watermark horizon applies):
    *
    *   1. probe the batch against the index, drop every batch doc with a
    *      near-dup already in the corpus;
    *   2. dedup WITHIN the batch (same LSH parameters, keep-lowest-id);
    *   3. append the survivors' signatures to the index;
    *   4. return the survivors (persisted — the append already paid for
    *      their computation; caller unpersists after its own sink).
    *
    * Replay-safe without coordination: probe ignores id-equal pairs, so
    * a replayed batch that already appended its signatures re-derives
    * the SAME survivor set (its own index rows only produce self-pairs),
    * and re-appending adds redundant rows that cannot change any future
    * probe's verdict — bucket sizes are counted as distinct ids and the
    * verify side is deduped per pair. A crash between append and the
    * caller's sink costs storage, never correctness.
    *
    * Fused signature pass: the batch is shingled + banded EXACTLY ONCE
    * and the persisted frames feed all three stages — corpus probe,
    * within-batch self-join ([[Dedup.minhashPairsSigned]]) and the index
    * append. The candidate pair set is likewise persisted between its two
    * consumers (id-shard derivation + verify join). All intermediates are
    * unpersisted before return; the survivors come back persisted AND
    * materialized, so downstream actions never re-trigger the probe. */
  def ingestBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      threshold: Double = 0.6,
      maxBucketSize: Long = 2000): DataFrame = {
    val (survivors, free) =
      ingestCore(spark, path, batch, id, text, threshold, maxBucketSize)
    // materialize the survivor cache BEFORE dropping the intermediates it
    // was derived from, so the caller's actions never re-run the probe
    try { StageTimers.timed("lsh_survivors") { survivors.count() }; survivors }
    finally free()
  }

  /** The probe/dedup/append chain WITHOUT the final survivor
    * materialization: returns the persisted (not yet materialized)
    * survivors plus the intermediate-cache release closure, so a caller
    * that immediately runs its own action ([[curateInto]]'s sink) can BE
    * the materializer — one fewer job per batch — and release the
    * intermediates after. */
  private def ingestCore(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      threshold: Double,
      maxBucketSize: Long): (DataFrame, () => Unit) = {
    // batch-local planning: the whole chain's shuffles are batch-scale,
    // so AQE's per-exchange stage jobs are pure driver overhead here —
    // the chain plans on the conf-isolated clone (corpus-scale probes
    // and anything the caller plans concurrently keep AQE); see
    // PlanUtil.batchLocalSession
    val planner = PlanUtil.batchLocalSession(spark)
    ingestCoreImpl(planner, path, PlanUtil.onSession(batch, planner),
      id, text, threshold, maxBucketSize)
  }

  private def ingestCoreImpl(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      threshold: Double,
      maxBucketSize: Long): (DataFrame, () => Unit) = {
    val (shingleSize, numHashes, bands, numShards) = readMeta(spark, path)
    val toFree = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = { toFree += df; df.persist() }
    var ok = false
    // intermediates unpersist via the returned closure once the caller has
    // materialized survivors; on FAILURE they release here — a mid-batch
    // failure (executor loss, disk full during the append) must not strand
    // cached frames in the block manager for the life of a streaming query
    try {
      val bsh = cached(shingleSets(batch, id, text, shingleSize))
      // persisted: every downstream subtree (guard, candidate join, self-
      // join, append) references the band keys — caching them pins the
      // 128-hash minhash fold to exactly ONE evaluation per batch
      val batchKeys = cached(bandKeys(bsh, numHashes, bands))
      val cand = StageTimers.timed("lsh_candgen") {
        cached(candidatePairs(spark, path, batchKeys, numShards,
          maxBucketSize, truncate = true))
      }
      // the sign-shards collect inside candidatePairs has materialized
      // BOTH batch caches; re-root them as LogicalRDDs so the downstream
      // consumers (verify join, self-join, appends) analyze and stringify
      // an O(1) leaf instead of re-walking the chunk→shingle→minhash DAG
      // per use — the per-batch driver time candgen/verifygen used to burn
      val bshT = PlanUtil.truncateLineage(bsh)
      val keysT = PlanUtil.truncateLineage(batchKeys)
      // Verdict sets come back to the DRIVER as sorted id arrays
      // (batch-bounded — the near-dup fraction of one micro-batch) and
      // re-enter every consumer as codegen REFERENCE OBJECTS
      // ([[graft.functions.SetFunctions.inLongSet]]): the old shape kept
      // them as persisted frames and subtracted them with broadcast
      // anti-joins, which cost a broadcast build + AQE stage per consumer
      // per micro-batch — measured ~2 s of driver-job fixed overhead at a
      // trigger, in a chain whose task work is milliseconds. Row-local
      // O(log n) filters have NO per-consumer jobs at all.
      val dupIds = StageTimers.timed("lsh_verdict") {
        verifyCandidates(spark, path, numShards, cand, bshT, threshold,
            truncate = true)
          .select(col("batch_id")).distinct()
          .collect().map(_.getLong(0))
      }
      java.util.Arrays.sort(dupIds)
      def without(df: DataFrame, c: Column, ids: Array[Long]): DataFrame =
        if (ids.isEmpty) df
        else df.filter(!graft.functions.SetFunctions.inLongSet(c, ids))
      // within-batch near-dup over the SAME signatures: restrict the
      // signed frames to corpus-clean ids, self-join, drop the higher id
      // of each verified pair (minhashDedup's greedy keep-lowest-id rule)
      val cleanSh = without(bshT, col("id"), dupIds)
      val cleanKeys = without(keysT, col("id"), dupIds)
      val loserIds = StageTimers.timed("lsh_selfgen") {
        Dedup.minhashPairsSigned(cleanSh, cleanKeys, threshold, maxBucketSize)
          .select(col("id_b")).distinct()
          .collect().map(_.getLong(0))
      }
      java.util.Arrays.sort(loserIds)
      val survSh = without(cleanSh, col("id"), loserIds)
      val survKeys = without(cleanKeys, col("id"), loserIds)
      // append from the already-computed signatures — no re-shingle, no
      // second minhash pass over the batch text. The two tables are
      // independent sinks of cached frames: write them CONCURRENTLY so one
      // append's fixed stage/commit latency hides under the other's.
      StageTimers.timed("lsh_append") {
        writeSignatures(survSh, survKeys, numShards, path, "append",
          singleTask = true)
      }
      // survivors = batch rows not in either dropped set: ONE flat
      // cache-scan + filter — no broadcast, no semi-join, no extra jobs
      val droppedIds = (dupIds ++ loserIds)
      java.util.Arrays.sort(droppedIds)
      val survivors = StageTimers.timed("lsh_survgen") {
        without(batch, id.cast("long"), droppedIds).persist()
      }
      ok = true
      (survivors, () => { toFree.foreach(_.unpersist()); () })
    } finally { if (!ok) toFree.foreach(_.unpersist()); () }
  }

  /** [[ingestBatch]] with the persist lifecycle owned INTERNALLY: runs
    * `sink` on the survivors and unpersists in a finally — the
    * `foreachBatch` shape for a long-lived streaming query, where leaving
    * one persisted frame per micro-batch ([[ingestBatch]]'s
    * caller-unpersists contract) would leak block-manager memory for the
    * life of the query. */
  def curateInto[T](
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      threshold: Double = 0.6,
      maxBucketSize: Long = 2000)(sink: DataFrame => T): T = {
    // the sink's FIRST action materializes the persisted survivors while
    // the probe intermediates are still cached (ingestCore defers their
    // release) — the separate survivor-count job ingestBatch pays is
    // folded into the sink's own action
    val (survivors, free) =
      ingestCore(spark, path, batch, id, text, threshold, maxBucketSize)
    try sink(survivors)
    finally { free(); survivors.unpersist(); () }
  }

  /** Compact the index: rewrite every shard directory that accumulated
    * more than one file (one per [[append]]/[[ingestBatch]] per hit
    * shard) into a single file, de-duplicating rows a replayed append
    * left behind — see [[IndexMaintenance]] for the crash contract.
    * Probe results are unchanged (spec-pinned): buckets collapse to
    * distinct (id, band, bucket) rows, shingles to one row per id —
    * exactly the normalizations probe applies on read. */
  def compact(spark: SparkSession, path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.foldDelta(spark, s"$path/buckets", "shard") +
      IndexMaintenance.foldDelta(spark, s"$path/shingles", "shard") +
      IndexMaintenance.compactTable(spark, s"$path/buckets", _.distinct()) +
      IndexMaintenance.compactTable(spark, s"$path/shingles",
        _.groupBy("id").agg(first(col("shingles")).as("shingles")))

  /** Near-duplicate pairs between a new batch and the indexed corpus:
    * (batch_id, corpus_id, jaccard) with jaccard ≥ `threshold`, one row
    * per cross pair. The batch side is broadcast through candidate
    * generation (a crawl batch is small next to the corpus); the corpus
    * text is never read — verification runs over the persisted shingle
    * sets, and only the shard directories the batch's buckets (then the
    * candidates' ids) can hit are scanned at all. Within-batch
    * duplicates are out of scope here (run [[Dedup.minhashPairs]] on the
    * batch, or `append` survivors and let the next probe see them). */
  def probe(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      threshold: Double = 0.6,
      maxBucketSize: Long = 2000): DataFrame = {
    val (shingleSize, numHashes, bands, numShards) = readMeta(spark, path)
    val bsh = shingleSets(batch, id, text, shingleSize)
    val candidates =
      candidatePairs(spark, path, bandKeys(bsh, numHashes, bands),
        numShards, maxBucketSize)
    verifyCandidates(spark, path, numShards, candidates, bsh, threshold)
  }

  /** [[probe]] with the fused per-call action discipline the ingest chain
    * uses: the batch is signed EXACTLY ONCE (persisted; the shard-list
    * collects double as the cache-filling actions), candidate generation
    * and verification each run once over truncated-lineage caches, and
    * every intermediate is unpersisted before return. The verified pairs
    * come back as a LOCAL relation — they are batch-bounded (the near-dup
    * pairs of ONE crawl batch, the same boundedness as the ingest chain's
    * verdict id sets), so downstream consumers plan broadcast against
    * them with no extra exchange and no re-execution of the probe.
    *
    * [[probe]] stays the fully-lazy form (plan-assertable file scans, no
    * caching side effects); this is the steady-state REPORTING shape — a
    * per-crawl-batch dedup report re-runs the same chain every batch,
    * where the lazy form pays each embedded shard-list action by
    * recomputing the signing chain it shares. Like the ingest chain, the
    * whole chain plans on the batch-local session (its shuffles are
    * batch-scale; the ingest path runs this same candidate/verify code
    * AQE-off with measured fixed-batch growth ≈ 1.3); the result frame
    * belongs to the CALLER's session. */
  def probeFused(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      threshold: Double = 0.6,
      maxBucketSize: Long = 2000): DataFrame = {
    val planner = PlanUtil.batchLocalSession(spark)
    val (shingleSize, numHashes, bands, numShards) = readMeta(planner, path)
    val toFree = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cached(df: DataFrame): DataFrame = { toFree += df; df.persist() }
    try {
      val bsh = cached(shingleSets(
        PlanUtil.onSession(batch, planner), id, text, shingleSize))
      // candidatePairs' shard-set collect is the first action: it fills
      // BOTH caches (the band keys derive from the persisted bsh)
      val batchKeys = cached(bandKeys(bsh, numHashes, bands))
      val cand = cached(candidatePairs(planner, path, batchKeys, numShards,
        maxBucketSize, truncate = true))
      val verified = verifyCandidates(planner, path, numShards, cand,
        PlanUtil.truncateLineage(bsh), threshold, truncate = true)
      val rows = verified.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), verified.schema)
    } finally toFree.foreach(_.unpersist())
  }

  /** Candidate (batch_id, corpus_id) pairs from pre-signed batch band
    * keys — [[probe]]'s generation half, split out so [[ingestBatch]] can
    * persist the (batch-scale) pair set between its two consumers. */
  private def candidatePairs(
      spark: SparkSession,
      path: String,
      batchKeys: DataFrame,
      numShards: Int,
      maxBucketSize: Long,
      truncate: Boolean = false): DataFrame = {
    // the batch's bucket-shard hit set: bounded by numShards — a
    // metadata-scale driver round-trip that buys the directory prune on
    // the corpus bucket table (IvfIndex.topK's probed-cell shape)
    val bucketShards = StageTimers.timed("lsh_sign_shards") {
      batchKeys
        .select(pmod(col("bucket"), lit(numShards.toLong)).cast("int").as("shard"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }
    // first action on the batch keys — under ingestBatch they are now
    // cached and materialized; re-root so the TWO broadcast subtrees
    // below carry a leaf plan instead of the full signing DAG. The
    // one-shot probe() path skips this (`truncate = false`) so its
    // executed plan keeps the file scans visible for plan assertions
    // and .explain — there the plan is built once, not per micro-batch.
    val keysT =
      if (truncate) PlanUtil.truncateLineage(batchKeys) else batchKeys
    val corpusKeys = prunedBuckets(spark, path, bucketShards)
    // guard sizes count DISTINCT CORPUS ids only: a singleton corpus
    // bucket is still a valid probe target (unlike the self-join case,
    // where a bucket needs ≥2 members to produce a pair), and a replayed
    // append duplicates rows but never ids, so replay cannot push a
    // bucket over the guard. Counting is restricted to buckets the batch
    // actually hits — the broadcast semi-join prunes at the (already
    // shard-pruned) bucket-table scan, so the size aggregation shuffles
    // batch-scale rows, not one row per distinct corpus bucket.
    val okBuckets = corpusKeys
      .join(broadcast(keysT.select("band", "bucket").distinct()),
        Seq("band", "bucket"))
      .groupBy("band", "bucket")
      .agg(countDistinct(col("id")).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select("band", "bucket")
    corpusKeys
      .join(okBuckets, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))
      .join(broadcast(keysT
          .select(col("band"), col("bucket"), col("id").as("batch_id"))),
        Seq("band", "bucket"))
      // a doc is never its own near-dup: id-equal pairs arise only when a
      // replayed batch meets its own appended signatures, and dropping
      // them is what makes ingestBatch's replay re-derive identical
      // survivors instead of self-matching the whole batch away
      .filter(col("batch_id") =!= col("corpus_id"))
      .select("batch_id", "corpus_id")
      .distinct()
  }

  /** [[probe]]'s verification half: exact Jaccard over persisted corpus
    * shingle sets, restricted to candidate ids. The candidates' id-shard
    * hit set (bounded by numShards) is derived from the candidate pairs
    * themselves — the EXACT shard set, and when the caller persisted
    * `candidates` the derivation is a collect over cached rows, not a
    * second corpus-side aggregation. */
  private def verifyCandidates(
      spark: SparkSession,
      path: String,
      numShards: Int,
      candidates: DataFrame,
      bsh: DataFrame,
      threshold: Double,
      truncate: Boolean = false): DataFrame = {
    val idShards = StageTimers.timed("lsh_cand_shards") {
      candidates
        .select(pmod(col("corpus_id"), lit(numShards.toLong)).cast("int").as("shard"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }
    // that collect was the candidate frame's first action — when the
    // caller persisted it, the cache is now full; re-root so the verify
    // join embeds a leaf, not the whole candidate-generation plan
    val candT =
      if (truncate) PlanUtil.truncateLineage(candidates) else candidates
    // a replayed append duplicates (id, shingles) rows VERBATIM, so the
    // join may emit the same pair twice with identical payloads; the
    // pair-level dropDuplicates replaces the old pre-join group-by and
    // keeps the candidates subtree appearing ONCE in this plan (the
    // group-by's semi-join restriction evaluated it a second time)
    val corpusSh = prunedShingles(spark, path, idShards)
      .select(col("id").as("corpus_id"), col("shingles").as("__sh_c"))
    candT
      .join(corpusSh, Seq("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
      .join(bsh.select(col("id").as("batch_id"), col("shingles").as("__sh_b")),
        Seq("batch_id"))
      .withColumn("jaccard", T.jaccardSorted(col("__sh_b"), col("__sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }
}
