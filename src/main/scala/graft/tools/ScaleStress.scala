package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.Bench.{materialize, time}
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.LogWriter
import graft.pipeline.LshIndex
import graft.queries.Queries

/** Scale-factor stress: measure per-query GROWTH, not absolute speed.
  *
  * Every 100-TB claim in this repo (directory prunes, broadcast sides,
  * no-corpus-shuffle probes, linear scans) is spec-pinned at sf0.1; this
  * harness measures the claims by running the same operators against an
  * N×-replicated corpus and recording `t(N×)/t(1×)` per entry:
  *
  *   - scan-shaped operators (stats, gopher, chunking, packing, exact
  *     dedup, TPC-H q1, brute ANN) should grow ≈ linearly (factor ≈ N,
  *     usually less while fixed job overhead still dominates);
  *   - the INCREMENTAL probe path ([[LshIndex.probe]] with a FIXED batch
  *     against a 1× vs N× index) is the headline: its cost must track the
  *     BATCH, growing far sublinearly in corpus size — that is the
  *     directory-prune design doing its job.
  *
  * Replica texts get a per-replica suffix so exact dedup stays honest
  * (every row distinct); near-dup structure across replicas is inherent
  * (replicas ARE near-dups — the crawl-recrawl workload) which is why the
  * all-pairs dedup family is measured through the probe path, whose
  * output grows with true matches, not engine overhead.
  *
  * {{{ runMain graft.tools.ScaleStress [factor] [srcDir] }}}
  * Writes SCALE_STRESS.json (one line) and prints it. */
object ScaleStress {

  /** warm + best-of-2 (same co-tenant defense as Bench). */
  private def bestOf2(body: => Unit): Double = {
    body
    math.min(time(body), time(body))
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(32)
    val srcDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    // optional 3rd arg: comma-separated entry filter for the focused dev
    // loop (runs + reports only those entries; skips the JSON overwrite)
    val only: Set[String] =
      args.drop(2).headOption.map(_.split(",").toSet).getOrElse(Set.empty)
    def want(n: String): Boolean = only.isEmpty || only.contains(n)
    val spark = Sessions.local("graft-scale-stress")

    val work = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val scaled = s"$work/scaled"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scaled))

    // --- build the N× corpus: id-remapped replicas, texts made distinct ---
    val ks = explode(sequence(lit(0), lit(factor - 1))).as("k")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$scaled/$name.parquet")
    val stride = 10000000L
    write(spark.read.parquet(s"$srcDir/documents.parquet")
      .select(col("*"), ks)
      .withColumn("doc_id", col("doc_id") + col("k") * stride)
      .withColumn("text",
        when(col("k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" r"), col("k"))))
      .drop("k"), "documents")
    write(spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("*"), ks)
      .withColumn("vec_id", col("vec_id") + col("k") * stride)
      .drop("k"), "embeddings")
    write(spark.read.parquet(s"$srcDir/events.parquet")
      .select(col("*"), ks)
      .withColumn("event_id", col("event_id") + col("k") * stride)
      .drop("k"), "events")
    write(spark.read.parquet(s"$srcDir/lineitem.parquet")
      .select(col("*"), ks)
      .withColumn("l_orderkey", col("l_orderkey") + col("k") * stride)
      .drop("k"), "lineitem")
    write(spark.read.parquet(s"$srcDir/orders.parquet")
      .select(col("*"), ks)
      .withColumn("o_orderkey", col("o_orderkey") + col("k") * stride)
      .drop("k"), "orders")
    // part names get a per-replica 7-char tag whose pairwise Hamming
    // distance is ≥ 3 (triple-repeated base-26 digits), so replicas of
    // the same base name stay OUTSIDE the fuzzy join's d ≤ 2 band —
    // the match count grows linearly with the corpus, and the measured
    // growth isolates CANDIDATE-generation cost, not result size.
    val repTags = (0 until factor).map { k =>
      val c1 = ('a' + k % 26).toChar; val c2 = ('a' + k / 26).toChar
      s"$c1$c1$c1$c2$c2$c2-"
    }
    write(spark.read.parquet(s"$srcDir/part.parquet")
      .select(col("*"), ks)
      .withColumn("p_partkey", col("p_partkey") + col("k") * stride)
      .withColumn("p_name",
        concat(element_at(typedLit(repTags), col("k") + 1), col("p_name")))
      .drop("k"), "part")
    // remaining tables ride along unscaled so any query resolves
    Seq("region", "nation", "customer", "supplier")
      .foreach { t =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$scaled/$t.parquet"),
          java.nio.file.Paths.get(s"$srcDir/$t.parquet"))
      }

    val entries = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]

    // --- scan-shaped operators: expect ≈ linear growth ---
    val linear: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "text_stats" -> (Queries.textStats _),
      "lang_id" -> (Queries.langId _),
      "gopher_filters" -> (Queries.gopherFilters _),
      "chunk_docs" -> (Queries.chunkDocs _),
      "dedup_exact" -> (Queries.dedupExact _),
      "pack_sequences" -> (Queries.packSequences _),
      "tfidf_topk" -> (Queries.tfidfTopk _),
      "quantize_int8" -> (Queries.quantizeInt8 _),
      "ann_brute" -> (Queries.annBrute _),
      "q1_pricing" -> (Queries.q1Pricing _),
      "q_events_hourly" -> (Queries.qEventsHourly _),
      "dedup_spans" -> (Queries.dedupSpans _),
      // fit (one agg) + codegen'd fold scoring + TakeOrdered top-k
      "dsir_sample" -> (Queries.dsirSample _),
      // NLL scoring + per-lang quantile metadata agg
      "ppl_buckets" -> (Queries.pplBuckets _),
      // BPE fit + ONE hash exchange (pos-rank + pack + roll-up fused)
      "train_shards" -> (Queries.trainShards _),
      // n count aggregations (Zipf-pruned above order 1) + scoring joins;
      // the byte-gated broadcast fallback is the 100x story — at 32x the
      // pruned tables still broadcast and growth should stay ~linear
      "lm_score_5gram" -> (Queries.lmScore5gram _),
      "ann_pq" -> (Queries.annPq _),
      // probed-cell ADC: growth should track nProbe/nCells of the code
      // bytes, well under linear
      "ann_ivfpq" -> (Queries.annIvfPq _),
      // row-local scoring scan with plan-literal weights: linear
      "qfilter_score" -> (Queries.qfilterScore _),
      // sketch/filter aggregations: scan grows, shuffle stays CONSTANT
      // (512-byte HLL registers / 32 KB bloom per group, never keys)
      "q_distinct_sketch" -> (Queries.qDistinctSketch _),
      "q_bloom_semijoin" -> (Queries.qBloomSemijoin _),
      // CMS: scan grows, shuffle carries the fixed counter array only
      "q_cms_freq" -> (Queries.qCmsFreq _),
      // salted shuffle join over scaled lineitem ⋈ scaled orders: the
      // salts split per-key row groups, growth should track the data
      "q_salted_join" -> (Queries.qSaltedJoin _),
      // prefix-filtered gram buckets: candidate pairs must grow
      // SUB-quadratically (an unguarded bucket join would go ~N²)
      "q_fuzzy_join" -> (Queries.qFuzzyJoin _),
      // event-analytics window cascades: all keyed on user_id, ONE
      // exchange each — growth should track the event scan
      "q_funnel" -> (Queries.qFunnel _),
      "q_retention" -> (Queries.qRetention _),
      // grouping-set rollup: one scan, grouping expansion is bounded
      "q_cube" -> (Queries.qCube _),
      // two-phase salted aggregation over the scaled hot keys
      "q_salted_agg" -> (Queries.qSaltedAgg _),
      // HLL union/intersection algebra: shuffle carries registers only
      "q_sketch_intersect" -> (Queries.qSketchIntersect _),
      // near-dup pair gen + connected components: the replicated corpus
      // multiplies the pair list ~N× but it stays under the measured
      // edge-count gate, so clustering resolves driver-side and growth
      // tracks the prefix-filtered pair generation; a 100 TB pair list
      // blows the cutoff and takes the distributed log-round loop
      "dup_clusters" -> (Queries.dupClusters _))
    linear.filter(e => want(e._1)).foreach { case (name, fn) =>
      val t1 = bestOf2(materialize(fn(spark, srcDir)))
      val tN = bestOf2(materialize(fn(spark, scaled)))
      entries(name) = (t1, tN)
    }

    // --- the distributed CC tier, forced (localEdgeCutoff = 0 overrides
    // the driver gate unconditionally): the closed-neighborhood-min
    // contraction (one pass that rewrites edges into label space; a
    // partition-local union-find pre-pass was measured and REJECTED —
    // see Graphs.scala) + the log-round label loop, against the same
    // near-dup pair lists as dup_clusters. The gated query above
    // measures what a user gets; THIS entry pins the overflow path a
    // 100 TB pair list takes when no gate can save it. ---
    if (want("dup_clusters_dist")) entries("dup_clusters_dist") = {
      def run(dir: String): Double = bestOf2(materialize {
        val pairs = graft.pipeline.Dedup.ngramJaccardPairs(
          spark.read.parquet(s"$dir/documents.parquet"),
          col("doc_id"), col("text"), shingleSize = 3, threshold = 0.8,
          shingler = graft.functions.TextFunctions.wordShingles)
        graft.pipeline.Graphs.connectedComponents(pairs, localEdgeCutoff = 0)
      })
      (run(srcDir), run(scaled))
    }

    // the CC entries' growth DENOMINATOR, stamped into the artifact: a
    // replicated corpus multiplies true near-dup pairs ~quadratically
    // (replicas are near-dups of each other), so the dup_clusters wall
    // is output-volume-bound — read its growth against this one. Values
    // are pair COUNTS, not seconds; "growth" is the pair-volume factor.
    if (want("dup_clusters") || want("dup_clusters_dist")) {
      def pairCount(dir: String): Long =
        graft.pipeline.Dedup.ngramJaccardPairs(
          spark.read.parquet(s"$dir/documents.parquet"),
          col("doc_id"), col("text"), shingleSize = 3, threshold = 0.8,
          shingler = graft.functions.TextFunctions.wordShingles).count()
      entries("dup_clusters_pairs") =
        (pairCount(srcDir).toDouble, pairCount(scaled).toDouble)
    }

    // --- SemDeDup discipline: k must scale with the corpus (k ∝ n keeps
    // per-cluster populations — and so the within-cluster pairwise join —
    // bounded). Fixed k would grow the pair count quadratically; this
    // entry measures the operator AS PRESCRIBED, k×N at N× data. ---
    if (want("dedup_semantic_scaledk")) entries("dedup_semantic_scaledk") = {
      import graft.pipeline.Dedup
      def run(dir: String, k: Int): Double = bestOf2(materialize(
        Dedup.semanticDedup(
          spark.read.parquet(s"$dir/embeddings.parquet"),
          col("vec_id"), col("embedding"), k = k, iters = 2, tau = 0.35)))
      (run(srcDir, 10), run(scaled, 10 * factor))
    }

    // --- ingest: full produce path at 1× and N× row counts ---
    val whDir = java.nio.file.Files.createTempDirectory("graft-scale-wh").toString
    val wh = Warehouse(whDir)
    def ingest(dir: String, topic: String): Double = {
      val ev = Queries.events(spark, dir).select(col("event_id"), col("ts"),
        col("user_id").cast("string").as("key"), col("props").as("value"))
      TopicCatalog.createTopic(spark, wh, topic, 8)
      TopicCatalog.createTopic(spark, wh, s"$topic-b", 8)
      math.min(
        time(LogWriter.append(spark, wh, topic, ev, "event_id")),
        time(LogWriter.append(spark, wh, s"$topic-b", ev, "event_id")))
    }
    if (want("ingest_append"))
      entries("ingest_append") = (ingest(srcDir, "ev1"), ingest(scaled, "evN"))

    // --- THE scale claim: fixed-batch probe against a 1× vs N× index.
    // Cost must track the batch (far sublinear in corpus) — the shard
    // directory prune is what makes per-crawl dedup affordable at 100 TB.
    val batch = spark.read.parquet(s"$srcDir/documents.parquet")
      .limit(200)
      .withColumn("doc_id", col("doc_id") + lit(900000000L))
      .select("doc_id", "text").cache()
    batch.count()
    def probeTime(dir: String, tag: String): Double = {
      val idx = s"$work/idx-$tag"
      LshIndex.build(spark.read.parquet(s"$dir/documents.parquet"),
        col("doc_id"), col("text"), idx,
        shingleSize = 5, numHashes = 128, bands = 16)
      bestOf2 {
        materialize(LshIndex.probe(spark, idx, batch, col("doc_id"),
          col("text"), threshold = 0.6))
      }
    }
    if (want("lsh_probe_fixed_batch")) entries("lsh_probe_fixed_batch") =
      (probeTime(srcDir, "1x"), probeTime(scaled, "Nx"))

    // --- the steady-state INGEST step (probe + within-batch dedup +
    // owner-guarded append) on the same fixed batch: this is what a
    // streaming curation pipeline pays per micro-batch against a growing
    // index, so its growth is the 100-TB ingest claim. Reuses the probe
    // entry's indexes (appends after the probe timing, so the probe
    // numbers stay clean); builds them if the probe entry was filtered
    // out. Replayed passes re-derive identical survivors by the id-equal
    // guard — the bestOf2 convention every fixed-batch entry uses. ---
    def ingestTime(dir: String, tag: String): Double = {
      val idx = s"$work/idx-$tag"
      if (!new java.io.File(idx).isDirectory)
        LshIndex.build(spark.read.parquet(s"$dir/documents.parquet"),
          col("doc_id"), col("text"), idx,
          shingleSize = 5, numHashes = 128, bands = 16)
      bestOf2 {
        LshIndex.ingestBatch(spark, idx, batch, col("doc_id"), col("text"))
          .unpersist()
        ()
      }
    }
    if (want("lsh_ingest_fixed_batch")) entries("lsh_ingest_fixed_batch") =
      (ingestTime(srcDir, "1x"), ingestTime(scaled, "Nx"))

    // --- the COMPOSED steady state: one fixed crawl batch through the
    // whole curation body (gopher → chunk → probe-vs-index → within-batch
    // dedup → append) against a 1× vs N× standing chunk index. This is
    // the number the streaming pipeline pays per micro-batch; growth ≈ 1
    // is the incremental-curation thesis measured end to end (the second
    // bestOf2 pass replays against its own appended chunks — the
    // id-equal guard makes that the same work by design). ---
    val curateCfg = graft.streaming.CurationConfig(
      minTokens = 30, maxTokens = 90, compactEvery = 0)
    def curateChunksOf(df: org.apache.spark.sql.DataFrame) = {
      val kept = df.select(col("doc_id").as("id"), col("text"))
        .filter(graft.pipeline.Quality.gopherPasses(col("text"),
          curateCfg.minTokens, curateCfg.maxTokens))
      graft.pipeline.Chunking.chunkTokens(kept, col("id"), col("text"),
          curateCfg.chunkSize, curateCfg.overlap)
        .withColumn("chunk_uid",
          graft.streaming.Curation.chunkUid(col("id"), col("chunk_id")))
    }
    def curateTime(dir: String, tag: String): Double = {
      val idx = s"$work/cidx-$tag"
      LshIndex.build(
        curateChunksOf(spark.read.parquet(s"$dir/documents.parquet")),
        col("chunk_uid"), col("chunk_text"), idx,
        shingleSize = 5, numHashes = 128, bands = 16)
      bestOf2 {
        graft.streaming.Curation.curateBatch(spark, idx, batch,
          col("doc_id"), col("text"), curateCfg) { survivors =>
          materialize(survivors)
        }
      }
    }
    if (want("curate_pipeline_fixed_batch")) entries("curate_pipeline_fixed_batch") =
      (curateTime(srcDir, "1x"), curateTime(scaled, "Nx"))

    // --- the FULL composed body (DSIR ∧ decontam ∧ trained filter ∧
    // span cut ∧ LSH dedup) on the same fixed batch: every gate is
    // row-local with fitted models as plan references, so the extra
    // stages must NOT re-introduce corpus-size dependence — growth
    // stays ≈ 1 like the base pipeline. Model fits and index builds
    // happen outside the timer (they are per-corpus one-offs, not
    // per-batch work). ---
    def curateFullTime(dir: String, tag: String): Double = {
      import graft.pipeline.{Contamination, Dsir, QualityClassifier => QC, SpanIndex}
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val lshIdx = s"$work/fidx-$tag-lsh"
      val spanIdx = s"$work/fidx-$tag-span"
      LshIndex.build(curateChunksOf(docs),
        col("chunk_uid"), col("chunk_text"), lshIdx,
        shingleSize = 5, numHashes = 128, bands = 16)
      SpanIndex.build(
        docs.filter(graft.pipeline.Quality.gopherPasses(col("text"),
          curateCfg.minTokens, curateCfg.maxTokens)),
        col("doc_id"), col("text"), spanIdx, k = 5)
      val dsirModel = Dsir.fit(docs, col("text"),
        col("lang") === "en", nBuckets = 256)
      val gate = Contamination.fitGate(
        docs.filter(col("source") === "src0"), col("text"), n = 5)
      val qf = QC.fit(docs, QC.features(col("text")),
        when(substring(col("source"), 4, 8).cast("int") < 10, 1.0)
          .otherwise(0.0), iters = 5, lr = 0.5)
      val allGates =
        (round(Dsir.logWeight(dsirModel, col("text")), 6) >= lit(0.0)) &&
        (Contamination.overlapCount(col("text"), gate) === 0) &&
        (QC.q(QC.score(QC.features(col("text")), qf), 6) >= lit(0.5))
      val fullCfg = curateCfg.copy(extraFilter = Some(allGates),
        spanIndexPath = Some(spanIdx))
      bestOf2 {
        graft.streaming.Curation.curateBatch(spark, lshIdx, batch,
          col("doc_id"), col("text"), fullCfg) { survivors =>
          materialize(survivors)
        }
      }
    }
    if (want("curate_pipeline_full_fixed_batch"))
      entries("curate_pipeline_full_fixed_batch") =
        (curateFullTime(srcDir, "1x"), curateFullTime(scaled, "Nx"))

    // --- ANN quality under scale: ivf-pq recall@5 against exact L2 on
    // the N× corpus (time growth is measured above; this checks the
    // ANSWERS don't degrade as cells fill up). The replicated corpus
    // duplicates every vector N×, so ties at the kth distance are
    // inherent — recall counts retrieved ids whose EXACT distance is
    // within the brute-force kth distance, the tie-robust form. Bound =
    // the in-memory tier's spec floor (IvfPqSpec: 0.2 on this
    // near-isotropic worst-case corpus). ---
    val recallJson = if (!want("ann_ivfpq_recall")) "" else {
      import graft.pipeline.IvfPq
      import graft.queries.IvfPqSql
      val emb = spark.read.parquet(s"$scaled/embeddings.parquet")
      val model = IvfPq.fit(emb, col("vec_id"), col("embedding"),
        dim = IvfPqSql.Dim, nCells = IvfPqSql.NCells, m = IvfPqSql.M,
        ksub = IvfPqSql.Ksub, iters = 2)
      val codes = IvfPq.encode(emb, col("vec_id"), col("embedding"), model)
      val k = IvfPqSql.TopK
      val approx = IvfPq.adcTopK(
          emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
          codes, model, nProbe = IvfPqSql.NProbe, k = k)
        .select("qid", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val vecs = emb.select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def d2(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
        }
        s
      }
      val recall = vecs.filter(_._1 < 5).map { case (qid, qv) =>
        val dists = vecs.filter(_._1 != qid).map { case (id, v) => (id, d2(qv, v)) }
        val dk = dists.map(_._2).sorted.apply(k - 1) + 1e-9
        val within = dists.filter(_._2 <= dk).map(_._1).toSet
        approx.getOrElse(qid, Set.empty).count(within).toDouble / k
      }
      val mean = recall.sum / recall.size
      println(f"== ann_ivfpq_recall@$k (${factor}x): $mean%.3f (bound 0.2)")
      f""","ann_ivfpq_recall":{"k":$k,"nprobe":${IvfPqSql.NProbe},"recall":$mean%.3f,"bound":0.2}"""
    }

    val qs = entries.map { case (k, (t1, tN)) =>
      f""""$k":{"t1":$t1%.3f,"tN":$tN%.3f,"growth":${tN / t1}%.2f}"""
    }.mkString("{", ",", "}")
    val heapGb = Runtime.getRuntime.maxMemory() / (1024L * 1024 * 1024)
    val json =
      f"""{"metric":"scale_stress","factor":$factor,"src":"$srcDir%s","heap_gb":$heapGb,"entries":$qs%s$recallJson%s}"""
    println(json)
    val artifact = java.nio.file.Paths.get("SCALE_STRESS.json")
    if (only.isEmpty)
      java.nio.file.Files.writeString(artifact, json)
    else if (java.nio.file.Files.exists(artifact)) {
      // focused loop: MERGE the measured entries into the existing
      // artifact instead of discarding them — but only when factor and
      // heap match the artifact's stamps (a 32 g focused probe must not
      // silently refresh entries measured at 64 g; see the heap_gb note
      // in the verify skill)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readString(artifact))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      if (root.path("factor").asInt() == factor &&
          root.path("heap_gb").asLong() == heapGb) {
        val e = root.get("entries")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        entries.foreach { case (k, (t1, tN)) =>
          val n = om.createObjectNode()
          n.put("t1", math.rint(t1 * 1000) / 1000)
          n.put("tN", math.rint(tN * 1000) / 1000)
          n.put("growth", math.rint(tN / t1 * 100) / 100)
          e.set[com.fasterxml.jackson.databind.JsonNode](k, n)
          ()
        }
        if (recallJson.nonEmpty) {
          val frag = om.readTree("{" + recallJson.drop(1) + "}")
          root.set[com.fasterxml.jackson.databind.JsonNode](
            "ann_ivfpq_recall", frag.get("ann_ivfpq_recall"))
          ()
        }
        java.nio.file.Files.writeString(artifact, om.writeValueAsString(root))
        println(s"== merged ${entries.size} focused entries into $artifact")
      } else
        println(s"== focused run factor/heap (${factor}/${heapGb}g) does not " +
          "match the artifact's stamps; measurements NOT merged")
    }
    spark.stop()
  }
}
