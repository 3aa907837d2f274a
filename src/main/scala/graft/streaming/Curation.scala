package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.catalog.Warehouse
import graft.core.log.LogWriter
import graft.pipeline.{Chunking, LshIndex, Quality, SpanIndex, SrpIndex}

/** Knobs of the curation pipeline, grouped so the streaming query, the
  * batch query path, and the crash harness share one literal.
  *
  * Gopher defaults are the published thresholds ([[Quality.gopherSignals]])
  * — override them for corpora with atypical document lengths, exactly as
  * the batch queries do. `chunkSize`/`overlap` follow
  * [[Chunking.chunkTokens]]; `threshold`/`maxBucketSize` follow
  * [[LshIndex.probe]]. */
final case class CurationConfig(
    minTokens: Int = 50,
    maxTokens: Int = 100000,
    minMeanWordLen: Double = 3.0,
    maxMeanWordLen: Double = 10.0,
    minAlphaFrac: Double = 0.8,
    minStopwords: Int = 2,
    chunkSize: Int = 64,
    overlap: Int = 16,
    threshold: Double = 0.6,
    maxBucketSize: Long = 2000,
    compactEvery: Int = 64,
    extraFilter: Option[Column] = None,
    spanIndexPath: Option[String] = None,
    spanMinCount: Long = 2L,
    srpIndexPath: Option[String] = None,
    embedding: Option[Column] = None,
    srpThreshold: Double = 0.95) {
  /** Optional additional row-local document predicate over (`id`, `text`),
    * applied after the gopher verdict and before chunking — the hook that
    * composes model-driven selection into the stream: a fitted DSIR
    * weight threshold ([[graft.pipeline.Dsir.logWeight]] ≥ τ), a
    * perplexity cut, a language allowlist. MUST be a pure per-row
    * function of the document (no lookups into mutable state): the
    * pipeline's exactly-once argument needs a replayed batch to re-derive
    * the identical keep set. Model tables (λ arrays, merge tables) ride
    * inside the expression as plan references, so they satisfy this by
    * construction. */
  /** Every `compactEvery`-th micro-batch runs [[LshIndex.compact]] after
    * its append (0 = never): each append adds one file per hit shard, so
    * without maintenance the probe side's file count grows with crawl
    * batches. In-body compaction is safe — foreachBatch bodies serialize
    * (single maintainer), and a replayed batch re-compacting is
    * idempotent. */
  /** `spanIndexPath`: when set, a SPAN-CUT stage runs between the gopher
    * filter and chunking — every word k-gram the corpus has already seen
    * (or that repeats `spanMinCount`+ times within the batch) is removed
    * from the document text before it chunks, against the persisted
    * [[graft.pipeline.SpanIndex]] at this path (must exist — build it
    * with the standing corpus or a sentinel doc). Replay-safe by the
    * index's owner guard: a replayed batch re-derives the identical cut
    * text, so the exactly-once argument composes unchanged. */
  /** `srpIndexPath` + `embedding`: when both set, an EMBEDDING near-dup
    * stage runs on the documents before chunking, against the persisted
    * [[graft.pipeline.SrpIndex]] at this path — docs whose embedding has
    * a corpus near-neighbor (cosine ≥ `srpThreshold`) drop, survivors'
    * embeddings append. Same replay story as the text index (id-equal
    * pairs ignored). The embedding column is a function of the consumed
    * record (e.g. a deterministic featurizer over `value`), so replays
    * re-derive it. */

  /** Chunk ordinals must fit [[Curation.ChunkBits]] for the packed chunk
    * uid; the gopher token cap bounds them. */
  require(
    (maxTokens.toLong + (chunkSize - overlap) - 1) / (chunkSize - overlap)
      < (1L << Curation.ChunkBits),
    s"maxTokens=$maxTokens with chunkSize=$chunkSize/overlap=$overlap can " +
      s"produce chunk ordinals beyond ${Curation.ChunkBits} bits")
}

/** The composed end-to-end streaming curation pipeline — the artifact the
  * "large-scale training-data pipeline" brief points at:
  *
  * {{{ consume(raw topic) → gopher quality filter → token-budget chunking
  *     → incremental near-dup dedup (persisted LSH index)
  *     → append survivors to a curated topic }}}
  *
  * Every stage is an already-proven component; this object owns the
  * COMPOSITION and its end-to-end exactly-once story. Exactly-once under a
  * mid-batch crash (including SIGKILL — proven cross-JVM by
  * `CurateCrashSpec` via [[graft.tools.CurateCrash]]) holds because each
  * stage is replay-idempotent for a pinned input:
  *
  *   - [[StreamIngest.consume]] pins each micro-batch's offset range in
  *     the checkpoint's offset log BEFORE the body runs — a replayed batch
  *     re-reads the identical records even though the raw topic has grown
  *     since;
  *   - the gopher filter and chunker are pure per-row functions of those
  *     records;
  *   - [[LshIndex.ingestBatch]] re-derives the IDENTICAL survivor set when
  *     its append already landed (self-pairs ignored; replayed signature
  *     rows cannot change any verdict — `LshIngestSpec`);
  *   - [[LogWriter.append]] keyed by the micro-batch id no-ops on replay
  *     (the index-table batch skip, `ConsumeCrashSpec`).
  *
  * So a crash at ANY point between range-pinning and the engine's commit
  * replays into the same curated rows or a no-op — never a loss, never a
  * duplicate. The one non-transactional residue is storage, not data:
  * a replayed [[LshIndex.ingestBatch]] appends redundant signature rows,
  * which change no verdict and are collected by [[LshIndex.compact]].
  *
  * At 100 TB: the per-batch work is batch-scale (gopher/chunk are
  * codegen'd row-local passes; the probe broadcasts batch keys and
  * directory-prunes the index to hit shards), so steady-state cost grows
  * with the crawl rate, not the corpus. Run [[LshIndex.compact]] on a
  * maintenance schedule to keep the index's file count bounded.
  *
  * The pipeline's END is [[graft.pipeline.TrainShards.emitFromTopic]]:
  * curated topic → shuffle-shard → token-budget packing → deterministic
  * training-shard files (re-emission is byte-identical —
  * `PipelineEndToEndSpec` pins raw-topic → shards end to end).
  */
object Curation {

  /** Low bits of the packed chunk uid reserved for the chunk ordinal. */
  val ChunkBits = 12

  /** Bits of the doc id reserved for the source partition (above the
    * 40-bit offset, below the uid headroom): docId = partition·2⁴⁰ +
    * offset stays under 2⁵¹, so chunkUid = docId·2¹² + chunk never
    * collides across partitions or overflows a long. */
  val OffsetBits = 40

  /** Stable doc id of a consumed record: (partition, offset) packed. */
  def docId(partition: Column, offset: Column): Column =
    shiftleft(partition.cast("long"), OffsetBits) + offset

  /** Stable chunk uid: (docId, chunk ordinal) packed. */
  def chunkUid(doc: Column, chunkId: Column): Column =
    shiftleft(doc, ChunkBits) + chunkId

  /** Consumed log records → curation documents (id, text, ts): the record
    * VALUE is the document body; identity derives from the log coordinate
    * (stable across replays — the whole point). */
  def docsOfRecords(records: DataFrame): DataFrame =
    records.select(
      docId(col("partition"), col("offset")).as("id"),
      col("value").as("text"),
      col("ts"))

  /** One micro-batch of curation over prepared documents (id, text[, ts]):
    * gopher filter → [optional embedding near-dup, `srpIndexPath`] →
    * [optional span cut, `spanIndexPath`] → chunk →
    * [[LshIndex.curateInto]]. `sink` receives the surviving chunks —
    * (id, chunk_id, n_tokens, chunk_text, chunk_uid) persisted for its
    * duration, unpersisted after (no per-batch leak in a long-lived
    * query). Deterministic for a fixed (docs, indexes) — each optional
    * stage is its index's replay-safe `ingestBatch`, so the
    * exactly-once argument composes unchanged (crash-proven by
    * `CurateCrashSpec` across all stages). */
  def curateBatch[T](
      spark: SparkSession,
      indexPath: String,
      docs: DataFrame,
      id: Column,
      text: Column,
      cfg: CurationConfig = CurationConfig())(sink: DataFrame => T): T = {
    // verdict-only gopher: one row-local predicate on the scan (identical
    // boundary decisions to gopherSignals, spec-pinned) — no signals
    // join, no second pass over the batch
    val cols = Seq(id.as("id"), text.as("text")) ++
      cfg.embedding.map(_.as("__emb")).toSeq
    val kept = docs.select(cols: _*)
      .filter(Quality.gopherPasses(col("text"),
        cfg.minTokens, cfg.maxTokens, cfg.minMeanWordLen,
        cfg.maxMeanWordLen, cfg.minAlphaFrac, cfg.minStopwords))
      .filter(cfg.extraFilter.getOrElse(lit(true)))
    val toFree = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // embedding near-dup at DOC granularity (whole near-dup docs drop
      // before any text work) — the SRP twin of the chunk-level LSH stage
      val embedded = (cfg.srpIndexPath, cfg.embedding) match {
        case (Some(p), Some(_)) =>
          val surv = graft.pipeline.StageTimers.timed("srp_embed") {
            SrpIndex.ingestBatch(spark, p, kept,
              col("id"), col("__emb"), cfg.srpThreshold)
          }
          toFree += surv
          surv.select(col("id"), col("text"))
        case _ => kept.select(col("id"), col("text"))
      }
      // span cut: remove every corpus-seen (or batch-repeated) k-gram
      // span from the text BEFORE chunking. ingestBatch materializes
      // internally (persist + count + gram append), so the stage timer
      // records the stage's real wall, not lazy plan construction.
      val spanned = cfg.spanIndexPath match {
        case Some(p) =>
          val cut = graft.pipeline.StageTimers.timed("span_cut") {
            SpanIndex.ingestBatch(spark, p, embedded,
              col("id"), col("text"), cfg.spanMinCount)
          }
          toFree += cut
          cut.select(col("doc_id").as("id"), col("kept_text").as("text"))
        case None => embedded
      }
      // persisted for the duration of the ingest: the chunk frame is the
      // probe's signing input AND the survivor projection's base — caching
      // it pins the gopher+chunk pass over the raw batch to one evaluation
      val chunks = graft.pipeline.StageTimers.timed("front_plan") {
        Chunking.chunkTokens(spanned, col("id"), col("text"),
            cfg.chunkSize, cfg.overlap)
          .withColumn("chunk_uid", chunkUid(col("id"), col("chunk_id")))
          .persist()
      }
      toFree += chunks
      graft.pipeline.StageTimers.timed("lsh_ingest_total") {
        LshIndex.curateInto(spark, indexPath, chunks,
          col("chunk_uid"), col("chunk_text"),
          cfg.threshold, cfg.maxBucketSize)(sink)
      }
    } finally { toFree.foreach(_.unpersist()); () }
  }

  /** The full foreachBatch body: consumed records → [[curateBatch]] →
    * curated-topic append keyed by the micro-batch id. Surviving chunks
    * land as records (ts = source record ts, key = "docId/chunkId",
    * value = chunk text) ordered by chunk uid. */
  def runBatch(
      spark: SparkSession,
      wh: Warehouse,
      curatedTopic: String,
      indexPath: String,
      records: DataFrame,
      batchId: Long,
      cfg: CurationConfig = CurationConfig()): Unit = {
    val docs = docsOfRecords(records)
    curateBatch(spark, indexPath, docs, col("id"), col("text"), cfg) {
      survivors =>
        // re-attach the source ts (chunking carries only id); batch-scale
        // join, broadcast-eligible
        val out = survivors
          .join(docs.select(col("id"), col("ts").as("__src_ts")), Seq("id"))
          .select(
            col("__src_ts").as("ts"),
            concat_ws("/", col("id"), col("chunk_id")).as("key"),
            col("chunk_text").as("value"),
            col("chunk_uid"))
        LogWriter.append(spark, wh, curatedTopic, out, "chunk_uid",
          batchId = Some(batchId))
        ()
    }
    // scheduled index maintenance — see CurationConfig.compactEvery.
    // Every ACTIVE index compacts: each stage's append adds one file per
    // hit shard per batch, so all of them need the same file-count bound.
    // batchId 0 is excluded — a fresh pipeline's first batch has nothing
    // worth compacting, and paying a full index rewrite before the first
    // record flows would dominate the pipeline's cold-start latency.
    if (cfg.compactEvery > 0 && batchId > 0 &&
        batchId % cfg.compactEvery == 0) {
      LshIndex.compact(spark, indexPath)
      cfg.spanIndexPath.foreach(SpanIndex.compact(spark, _))
      cfg.srpIndexPath.foreach(SrpIndex.compact(spark, _))
      ()
    }
  }

  /** Start the continuous pipeline: raw topic → curated topic. The LSH
    * index at `indexPath` must exist ([[LshIndex.build]], seeded with the
    * standing corpus or a single sentinel document). One checkpoint owns
    * the whole composition — see the class doc for the exactly-once
    * argument. */
  def start(
      spark: SparkSession,
      wh: Warehouse,
      rawTopic: String,
      curatedTopic: String,
      indexPath: String,
      checkpoint: String,
      cfg: CurationConfig = CurationConfig(),
      triggerMs: Long = 500,
      maxPerPartition: Long = Long.MaxValue): StreamingQuery =
    StreamIngest.consume(spark, wh, rawTopic, checkpoint, triggerMs,
      maxPerPartition) { (records, batchId) =>
      runBatch(spark, wh, curatedTopic, indexPath, records, batchId, cfg)
    }

  /** Drain-then-stop form of [[start]] ([[StreamIngest.consumeAvailableNow]]):
    * curates everything committed at call time in one batch, then the
    * returned query terminates — await it. Shares the checkpoint protocol
    * with [[start]]. */
  def runAvailableNow(
      spark: SparkSession,
      wh: Warehouse,
      rawTopic: String,
      curatedTopic: String,
      indexPath: String,
      checkpoint: String,
      cfg: CurationConfig = CurationConfig(),
      maxPerPartition: Long = Long.MaxValue): StreamingQuery =
    StreamIngest.consumeAvailableNow(spark, wh, rawTopic, checkpoint,
      maxPerPartition) { (records, batchId) =>
      runBatch(spark, wh, curatedTopic, indexPath, records, batchId, cfg)
    }
}
