package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogReader, LogWriter}
import graft.pipeline.{Chunking, LshIndex, Quality, SpanIndex}
import graft.streaming.{Curation, CurationConfig}

/** `curate_stream`: the LLM-data curation pipeline on the log.
  *
  * Set-up builds the LSH chunk index and the span index over three quarters
  * of a generated document corpus (the standing corpus), then fills a raw
  * topic with a seeded backlog: the held-out quarter plus word-level
  * near-duplicates of standing documents at a fixed share. The window is
  * `Curation.start` draining that backlog through gopher → span cut → chunk
  * → LSH dedup → curated topic, in micro-batches of 252 documents, with the
  * configuration's default index compaction (every 64 batches, so not inside
  * a window). The pipeline operators do almost all the work and the log
  * engine little. */
object CurateStream {

  val CorpusDocs = 5000
  val RawPartitions = 4
  /** 4 partitions × 63 = 252 documents per micro-batch. */
  val MaxPerPartition = 63L
  val NearDupShare = 0.4
  val NearDupRate = 0.03
  /** One set-up per run, so the set-up timed is the cold one (~20 s): the
    * index builds cost ~7 s even warm, and more set-ups do not fit the time
    * budget of a 22-run comparison. */
  val Setups = 1
  /** Micro-batches run before the window: batch 0 pays the query's start and
    * the stream path's first compile. */
  val WarmBatches = 1
  /** Batches the window holds at least: the batch after the warm one still
    * runs ~25% slow, and the median of two samples is the lower one. */
  val MinWindowBatches = 2
  /** Batches whose curated output is digested (their input is fixed by the
    * seed, whatever the window's length). */
  val DigestBatches = 2
  /** Digest of the first [[DigestBatches]] batches' curated records at seed 1. */
  val PinnedSeed = 1L
  val PinnedDigest = "979a90c57ca0b298640f7282a92e5d0affee144c2b8342502faf5837e6c9edf8"

  /** The curation configuration of the `curate_pipeline_spans` query: the
    * gopher token band fits the corpus's 12-99-word documents. */
  def config(spanPath: String): CurationConfig =
    CurationConfig(minTokens = 30, maxTokens = 90, spanIndexPath = Some(spanPath))

  /** Longest wait for one micro-batch to complete. */
  val BatchLimitMs = 60000L

  /** Standing-corpus document ids sit above every stream document id
    * (partition·2⁴⁰ + offset), so a near-duplicate never shares its
    * source's id (the probes ignore id-equal pairs). */
  private val StandingIdBase = 1L << 50

  private final case class Batch(batchId: Long, startMs: Long, triggerMs: Double, addBatchMs: Double) {
    def endMs: Double = startMs + triggerMs
  }

  private val rawSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false),
    StructField("explicit_partition", IntegerType, nullable = false)))

  private final case class Prepared(
      wh: Warehouse, lshPath: String, spanPath: String, checkpoint: String,
      backlog: Int, perPartition: Map[Int, Long])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rnd = ctx.rnd(1)
    val corpus = Array.fill(CorpusDocs)(Gen.document(rnd))
    val standing = corpus.indices.filter(_ % 4 != 0)
    val heldOut = corpus.indices.filter(_ % 4 == 0).map(corpus(_))
    val nearDups = Array.fill((heldOut.size * NearDupShare / (1 - NearDupShare)).toInt) {
      Gen.nearDuplicate(corpus(standing(rnd.nextInt(standing.size))), rnd, NearDupRate)
    }
    val backlog: Array[String] = {
      val all = (heldOut ++ nearDups).map(_.mkString(" ")).toArray
      // seeded Fisher-Yates: near-duplicates spread over every batch
      (all.length - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1)
        val t = all(i); all(i) = all(j); all(j) = t
      }
      all
    }

    val (prep, setupS) = Main.timedSetups(Setups)(i => setup(ctx, i, corpus, standing, backlog))
    val cfg = config(prep.spanPath)

    val problems = ArrayBuffer.empty[String]
    val query = Curation.start(spark, prep.wh, "raw", "curated", prep.lshPath, prep.checkpoint,
      cfg, maxPerPartition = MaxPerPartition)
    def completed(): Seq[Batch] = query.recentProgress.toSeq.flatMap { p =>
      val d = p.durationMs.asScala
      d.get("addBatch").map(add => Batch(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution").toDouble, add.toDouble))
    }
    // batch k reads [k·m, (k+1)·m) of every partition: the backlog is
    // committed before the query starts
    def docsIn(nBatches: Int): Long =
      prep.perPartition.values.map(n => math.min(n, nBatches * MaxPerPartition)).sum
    def drained: Boolean = docsIn(completed().size) >= prep.backlog
    def awaitBatches(n: Int): Unit = {
      val limit = System.nanoTime() + BatchLimitMs * 1000000L
      while (completed().size < n && !drained && query.isActive && System.nanoTime() < limit)
        Thread.sleep(20)
    }
    // the warm batches run before the window; the window then runs
    // --seconds, and the batch in flight at its end completes, or more
    // until it holds MinWindowBatches (none once the backlog is drained:
    // batch times, not the window, give the rates)
    awaitBatches(WarmBatches)
    val t0 = System.nanoTime()
    val windowStart = Tracer.nowMs()
    val failure =
      try {
        query.awaitTermination(ctx.seconds * 1000L)
        awaitBatches((completed().size + 1).max(WarmBatches + MinWindowBatches))
        query.exception
      } catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
      finally query.stop()
    failure.foreach(e => problems += s"curation query failed: ${e.getMessage}")
    val windowMs = Main.msSince(t0)
    val heap = Main.liveHeapMb()

    val all = completed().sortBy(_.batchId)
    val warm = all.filter(_.batchId < WarmBatches)
    val batches = all.filter(_.batchId >= WarmBatches)
    val done = all.size
    val docs = docsIn(done) - docsIn(WarmBatches)
    if (batches.isEmpty) problems += "no micro-batch completed inside the window"
    val spanS = (for (f <- warm.lastOption; l <- batches.lastOption)
      yield (l.endMs - f.endMs) / 1000).getOrElse(0.0)

    // checks: log integrity, raw end offsets, no duplicate curated key, digest
    Seq("raw", "curated").foreach { t =>
      val v = Admin.verifyTopic(spark, prep.wh, t, deep = true)
      if (!v.ok) problems += s"verifyTopic: ${v.summary}"
    }
    val ends = Admin.endOffsets(spark, prep.wh, "raw")
    prep.perPartition.foreach { case (p, n) =>
      if (ends.getOrElse(p, 0L) != n) problems += s"raw/$p: end offset ${ends.getOrElse(p, 0L)} != $n"
    }
    val curated = LogReader.scan(spark, prep.wh, "curated")
      .select(col("key"), col("value")).collect().map(r => (r.getString(0), r.getString(1)))
    val dupKeys = curated.length - curated.map(_._1).distinct.length
    if (dupKeys > 0) problems += s"curated topic holds $dupKeys duplicate keys"
    val offsetMask = (1L << Curation.OffsetBits) - 1
    def srcOffset(key: String): Long = key.split("/")(0).toLong & offsetMask
    val digest =
      if (done < DigestBatches) {
        problems += s"only $done micro-batches completed; the digest covers $DigestBatches"
        ""
      } else sha256(curated.filter(kv => srcOffset(kv._1) < DigestBatches * MaxPerPartition)
        .sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n"))
    if (ctx.seed == PinnedSeed && digest.nonEmpty && digest != PinnedDigest)
      problems += s"curated digest $digest != pinned $PinnedDigest (seed $PinnedSeed)"
    val keptDocs = curated.map(kv => kv._1.split("/")(0)).distinct.length

    val trig = batches.map(_.triggerMs)
    val add = batches.map(_.addBatchMs)
    tr.sync()
    val layers: Map[String, Double] = if (!tr.enabled) Map.empty else {
      val ids = batches.map(_.batchId).toSet
      val js = tr.jobs.values.asScala.toSeq.filter(j => ids.contains(j.batch))
      val n = batches.size.max(1).toDouble
      def jobMs(files: String*) = js.filter(j => files.contains(j.siteFile)).map(_.durMs).sum / n
      val known = Set("LshIndex.scala", "SpanIndex.scala", "LogWriter.scala", Tracer.Unattributed)
      Map(
        "streaming.trigger_ms_p50" -> Stats.pctOr0(trig, 0.5),
        "streaming.add_batch_ms_p50" -> Stats.pctOr0(add, 0.5),
        "streaming.overhead_ms_p50" -> Stats.pctOr0(trig.zip(add).map { case (a, b) => a - b }, 0.5),
        "pipeline.lsh_job_ms_per_batch" -> jobMs("LshIndex.scala"),
        "pipeline.span_job_ms_per_batch" -> jobMs("SpanIndex.scala"),
        "pipeline.append_job_ms_per_batch" -> jobMs("LogWriter.scala"),
        "pipeline.other_job_ms_per_batch" ->
          js.filterNot(j => known.contains(j.siteFile)).map(_.durMs).sum / n,
        "pipeline.unattributed_jobs_per_batch" ->
          js.count(_.callSite == Tracer.Unattributed) / n,
        "pipeline.jobs_per_batch" -> js.size / n,
        "pipeline.tasks_per_batch" -> js.map(_.tasks).sum / n,
        "pipeline.cpu_s_per_batch" -> js.map(_.cpuNs).sum / 1e9 / n,
        "pipeline.shuffle_mb_per_batch" -> js.map(_.shuffleWriteB).sum / 1048576.0 / n,
        "pipeline.spill_mb_per_batch" -> js.map(_.spillB).sum / 1048576.0 / n,
        "pipeline.doc_keep_frac" -> keptDocs.toDouble / docsIn(done).max(1),
        "pipeline.lsh_index_files" ->
          Main.files(prep.lshPath).count(!_.getFileName.toString.startsWith(".")).toDouble)
    }
    Outcome(
      setupS = setupS,
      latencyMs = Stats.pctOr0(trig, 0.5),
      recordsPerS = docs / spanS.max(1e-9),
      liveHeapMb = heap,
      attempted = batches.size.toLong,
      failed = if (failure.isDefined) 1L else 0L,
      problems = problems.toSeq,
      report = Map(
        "curate_batch_ms" -> (Stats.summary(trig) + ("all" -> trig)),
        "curate_docs_per_s" -> docs / spanS.max(1e-9),
        "warm_batch_ms" -> warm.map(_.triggerMs),
        "batches" -> done,
        "docs_curated" -> docsIn(done),
        "backlog_docs" -> prep.backlog,
        "backlog_drained" -> (docsIn(done) >= prep.backlog),
        "curated_records" -> curated.length,
        "doc_keep_frac" -> keptDocs.toDouble / docsIn(done).max(1),
        "digest_first_batches" -> digest),
      layers = layers,
      windowMs = windowMs,
      windowStartMs = windowStart)
  }

  private def setup(
      ctx: Ctx, i: Int, corpus: Array[Array[String]], standing: Seq[Int],
      backlog: Array[String]): Prepared = {
    val spark = ctx.spark
    val root = ctx.dir(s"curate-$i")
    val wh = Warehouse(s"$root/wh")
    val cfg = config(s"$root/span")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val docs = spark.createDataFrame(
      standing.map(d => Row(StandingIdBase + d, corpus(d).mkString(" "))).asJava, docSchema)
    val kept = docs.filter(Quality.gopherPasses(col("text"), cfg.minTokens, cfg.maxTokens))
    val chunks = Chunking.chunkTokens(kept.select(col("doc_id").as("id"), col("text")),
        col("id"), col("text"), cfg.chunkSize, cfg.overlap)
      .withColumn("chunk_uid", Curation.chunkUid(col("id"), col("chunk_id")))
    LshIndex.build(chunks, col("chunk_uid"), col("chunk_text"), s"$root/lsh",
      shingleSize = 5, numHashes = 128, bands = 16)
    SpanIndex.build(kept, col("doc_id"), col("text"), s"$root/span", k = 5)

    TopicCatalog.createTopic(spark, wh, "raw", RawPartitions)
    TopicCatalog.createTopic(spark, wh, "curated", RawPartitions)
    val rows = backlog.indices.map(j =>
      Row(j.toLong, 1700000000000L + j, s"doc-$j", backlog(j), j % RawPartitions))
    LogWriter.append(spark, wh, "raw", spark.createDataFrame(rows.asJava, rawSchema), "seq")
    val perPartition = rows.groupBy(_.getInt(4)).map { case (p, rs) => p -> rs.size.toLong }
    Prepared(wh, s"$root/lsh", s"$root/span", s"$root/checkpoint", backlog.length, perPartition)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}
