package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** Persisted word-gram fingerprint index for INCREMENTAL substring-level
  * dedup — the living-corpus form of [[Dedup.repeatedSpanRemoval]].
  *
  * One-shot span removal re-fingerprints the whole corpus per run; a crawl
  * pipeline instead needs "cut from each NEW batch every k-gram span the
  * corpus has already seen (or that repeats within the batch)". This index
  * pays the corpus-side gram pass once:
  *
  *   - `build` persists one row per DISTINCT corpus gram fingerprint with
  *     the lowest doc id that introduced it: `path/grams` (g, owner). The
  *     corpus text is never read again — at 100 TB the gram set is the
  *     only state, and it is a fraction of corpus bytes (8-byte hash per
  *     distinct gram vs the text itself).
  *   - `append` adds a batch's distinct gram fingerprints — steady-state
  *     ingest, touching only the new documents.
  *   - `probe` removes spans from a new batch: batch occurrences (id,
  *     pos, g) join the CORPUS gram set for cross-corpus repeats, plus a
  *     batch-internal count for within-batch repeats; covered intervals
  *     union row-locally exactly as the one-shot operator does.
  *
  * '''Shard-pruned layout.''' `path/grams` is written with a
  * `shard = pmod(g, numShards)` partition column, so a probe reads only
  * the gram directories its batch can hit — the same directory-prune
  * shape [[LshIndex]] and [[IvfIndex]] prove: probe I/O tracks the BATCH
  * gram set, not the corpus. The shard hit set is a driver round-trip
  * bounded by `numShards`.
  *
  * '''Replay safety''' (a crash-replayed `ingestBatch` must re-derive the
  * SAME output): every gram row carries the lowest doc id that introduced
  * it, and probe only counts a corpus hit when `owner != batch doc id`.
  * A replayed batch that already appended its own grams therefore does
  * not self-match: grams it introduced resolve to `owner == its own id`
  * (excluded), grams the prior corpus already had resolve to the old
  * owner (cut, exactly as in the first run), and within-batch repeats
  * re-derive from the batch itself. Re-appending adds duplicate rows,
  * which the set semantics ignore (see [[compact]]).
  *
  * `k` (gram width in words) and the shard count are stamped into
  * `path/meta` and read back on probe/append, so a probe can never use a
  * different gram width than the index it queries. */
object SpanIndex {

  /** Tokenized batch frame (id, w) — the shared signing input: probe's
    * reconstruction and the gram pass both read it, so [[ingestBatch]]
    * persists it and tokenizes the batch exactly once. */
  private def baseOf(df: DataFrame, id: Column, text: Column): DataFrame =
    Dedup.spread(df.select(id.cast("long").as("id"), T.tokens(text).as("w")))

  /** Gram occurrences of a tokenized frame: (id, pos, g) — one row per
    * k-gram position, fingerprint = FNV-1a of the space-joined words
    * (identical to [[Dedup.repeatedSpanRemoval]], so the two surfaces
    * agree). */
  private def occOf(base: DataFrame, k: Int): DataFrame =
    base
      .select(col("id"),
        explode(
          when(size(col("w")) >= k,
            transform(sequence(lit(0), size(col("w")) - k),
              i => struct(i.as("pos"),
                T.fingerprint64(array_join(slice(col("w"), i + 1, lit(k)), " "))
                  .as("g"))))
            .otherwise(array().cast("array<struct<pos:int,g:bigint>>")))
          .as("o"))
      .select(col("id"), col("o.pos").as("pos"), col("o.g").as("g"))

  private def occurrences(
      df: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    occOf(baseOf(df, id, text), k)

  /** Distinct (g, owner=min id) of a frame's occurrences, shard-stamped. */
  private def gramSet(occ: DataFrame, numShards: Int): DataFrame =
    occ.groupBy("g").agg(min(col("id")).as("owner"))
      .withColumn("shard", pmod(col("g"), lit(numShards.toLong)).cast("int"))

  /** [[gramSet]] plus the within-batch occurrence count — ONE aggregation
    * over the occurrences that feeds every per-batch consumer of the gram
    * set: the shard hit list, the broadcast probe side, the within-batch
    * repeat filter, and the index append ([[ingestBatch]] persists it).
    * The separate-consumer shape re-shuffled `occ` once per use. */
  private def gramStats(occ: DataFrame, numShards: Int): DataFrame =
    occ.groupBy("g")
      .agg(min(col("id")).as("owner"), count(lit(1)).as("cnt"))
      .withColumn("shard", pmod(col("g"), lit(numShards.toLong)).cast("int"))

  /** `singleTask`: the APPEND shape — batch-scale gram sets write from
    * one task (no `repartition` exchange, same one-file-per-hit-shard
    * layout); [[build]] keeps the exchange (corpus-scale parallelism). */
  private def writeGrams(
      occ: DataFrame, numShards: Int, path: String, mode: String,
      singleTask: Boolean = false): Unit = {
    val g = gramSet(occ, numShards)
    if (singleTask)
      // delta tail — ONE plain file per batch; see IndexMaintenance
      IndexMaintenance.appendDelta(g, s"$path/grams")
    else
      g.repartition(col("shard"))
        .write.mode(mode).partitionBy("shard").parquet(s"$path/grams")
  }

  def build(
      corpus: DataFrame,
      id: Column,
      text: Column,
      path: String,
      k: Int = 5,
      numShards: Int = 64): Unit = {
    IndexMeta.write(corpus.sparkSession, path, "k" -> k, "num_shards" -> numShards)
    writeGrams(occurrences(corpus, id, text, k), numShards, path, "overwrite")
  }

  /** (k, numShards) of the index at `path`. */
  private def readMeta(spark: SparkSession, path: String): (Int, Int) =
    IndexMeta.read(spark, path, "k", "num_shards") match { case Seq(k, n) => (k, n) }

  /** Add a batch's distinct gram fingerprints — steady-state ingest. */
  def append(batch: DataFrame, id: Column, text: Column, path: String): Unit = {
    val (k, numShards) = readMeta(batch.sparkSession, path)
    writeGrams(occurrences(batch, id, text, k), numShards, path, "append",
      singleTask = true)
  }

  /** The shard-pruned gram-table scan a probe's shard set touches —
    * exposed so callers (and specs) can assert the directory pruning. */
  def prunedGrams(spark: SparkSession, path: String, shards: Seq[Int]): DataFrame =
    IndexMaintenance.readWithDelta(spark, s"$path/grams", "shard", shards)

  /** Span removal for a new batch against the indexed corpus: returns
    * (doc_id, n_words, removed_words, kept_text), one row per batch doc.
    * A span is cut when its gram is in the corpus (introduced by a
    * DIFFERENT doc id) or occurs ≥ `minCount` times within the batch.
    * The corpus side is scanned only in the batch's hit shards and joins
    * on the 8-byte fingerprint; the batch's gram set broadcasts. */
  def probe(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      minCount: Long = 2L): DataFrame = {
    val (k, numShards) = readMeta(spark, path)
    val base = baseOf(batch, id, text)
    probeCore(spark, path, base, occOf(base, k), None, k, numShards, minCount)
  }

  /** [[probe]] over a pre-tokenized frame and its occurrences — the
    * entry point [[ingestBatch]] uses so the batch is tokenized and
    * fingerprinted exactly once across probe + append.
    *
    * `gset`: a persisted [[gramStats]] of `occ`, when the caller computed
    * one ([[ingestBatch]] shares it with the append) — the shard list,
    * broadcast probe side and batch-repeat filter then scan that one
    * cached batch-scale aggregate instead of re-shuffling `occ` each.
    * `sort`: the public [[probe]] keeps the by-doc-id report order; the
    * ingest path skips it (its consumer chunks per doc — a global sort
    * is a boundary-sampling job plus a range exchange of pure waste). */
  private def probeCore(
      spark: SparkSession,
      path: String,
      base: DataFrame,
      occ: DataFrame,
      gset: Option[DataFrame],
      k: Int,
      numShards: Int,
      minCount: Long,
      sort: Boolean = true,
      shards: Option[Seq[Int]] = None): DataFrame = {
    // batch gram-shard hit set: bounded by numShards, buys the prune
    // (the ingest path collects it up front as its cache-filling action
    // and passes it in — see `shards`)
    val gramShards = shards.getOrElse(gset.getOrElse(occ
        .withColumn("shard", pmod(col("g"), lit(numShards.toLong)).cast("int")))
      .select("shard").distinct().collect().map(_.getInt(0)).toSeq)
    // corpus hits: gram seen before, by a different doc (replay guard) —
    // the batch's distinct grams broadcast onto the pruned corpus scan,
    // so the corpus side never shuffles
    val batchG = gset.map(_.select("g")).getOrElse(occ.select("g").distinct())
    val corpusHit = prunedGrams(spark, path, gramShards)
      .join(broadcast(batchG), Seq("g"))
      .select(col("g"), col("owner"))
    val fromCorpus = occ.join(corpusHit, Seq("g"))
      .filter(col("owner") =!= col("id"))
      .select("id", "pos")
    // within-batch repeats, exactly the one-shot operator's rule
    val batchDup = gset.map(_.filter(col("cnt") >= minCount).select("g"))
      .getOrElse(occ.groupBy("g").count()
        .filter(col("count") >= minCount).select("g"))
    val fromBatch = occ.join(batchDup, Seq("g")).select("id", "pos")
    val starts = fromCorpus.union(fromBatch).distinct()
      .groupBy("id").agg(collect_list(col("pos")).as("starts"))
    // O(doc) reconstruction — the same sorted-interval merge expression
    // as the one-shot operator (graft.functions.SpanFunctions)
    val out = base.join(starts, Seq("id"), "left")
      .withColumn("__sp", graft.functions.SpanFunctions.spanRemove(
        col("w"), coalesce(col("starts"), array().cast("array<int>")), k))
      .select(
        col("id").as("doc_id"),
        size(col("w")).as("n_words"),
        col("__sp.removed_words").as("removed_words"),
        col("__sp.kept_text").as("kept_text"))
    if (sort) out.orderBy(col("doc_id")) else out
  }

  /** The steady-state ingest step as a `foreachBatch` body: cut every
    * already-seen span from the batch, append the ORIGINAL batch's grams
    * (the corpus has now seen all of this content — future occurrences
    * of any of it, kept or cut, must be removed), and return the cleaned
    * rows. Replay-safe: see the class doc — a replayed batch re-derives
    * the identical output. */
  def ingestBatch(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      minCount: Long = 2L): DataFrame = {
    // batch-local planning on the conf-isolated clone — see
    // PlanUtil.batchLocalSession
    val planner = PlanUtil.batchLocalSession(spark)
    ingestBatchImpl(planner, path, PlanUtil.onSession(batch, planner),
      id, text, minCount)
  }

  private def ingestBatchImpl(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      id: Column,
      text: Column,
      minCount: Long): DataFrame = {
    val (k, numShards) = readMeta(spark, path)
    // sign once: tokenization + gram fingerprints are shared by the probe
    // and the append; the cleaned rows come back persisted AND
    // materialized (callers unpersist — Curation owns the lifecycle).
    // Intermediates unpersist in a finally so a mid-batch failure cannot
    // strand cached frames in a long-running streaming query.
    val base = baseOf(batch, id, text).persist()
    val occ = occOf(base, k).persist()
    // ONE aggregation of the batch's gram set, shared by the probe's
    // three consumers AND the append (see gramStats)
    val gset = gramStats(occ, numShards).persist()
    try {
      // first action: the shard hit list materializes all three caches
      val gramShards =
        gset.select("shard").distinct().collect().map(_.getInt(0)).toSeq
      // re-root the filled caches as leaf plans: the batch frame arrives
      // carrying its caller's full lineage (in the curation pipeline, a
      // scan under the whole gate conjunction — hundreds of expression
      // nodes), and the probe plan embeds base/occ several times; without
      // truncation every Catalyst pass re-walks that tree per embedding
      // (the LshIndex.ingestCoreImpl bshT/keysT discipline)
      val baseT = PlanUtil.truncateLineage(base)
      val occT = PlanUtil.truncateLineage(occ)
      val gsetT = PlanUtil.truncateLineage(gset)
      val cleaned = PlanUtil.truncateLineage(
          probeCore(spark, path, baseT, occT, Some(gsetT), k, numShards,
            minCount, sort = false, shards = Some(gramShards)))
        .persist()
      // the append IS the cached gram set (count projected away) — no
      // second aggregation over the occurrences
      IndexMaintenance.appendDelta(
        gsetT.select("g", "owner", "shard"), s"$path/grams")
      cleaned.count()
      cleaned
    } finally { base.unpersist(); occ.unpersist(); gset.unpersist(); () }
  }

  /** Compact the gram table: rewrite multi-file shard directories into
    * one file each, collapsing replayed-append duplicates to the lowest
    * owner per gram (the owner any probe would resolve). */
  def compact(spark: SparkSession, path: String): IndexMaintenance.CompactStats =
    IndexMaintenance.foldDelta(spark, s"$path/grams", "shard") +
      IndexMaintenance.compactTable(spark, s"$path/grams",
        _.groupBy("g").agg(min(col("owner")).as("owner")))
}
