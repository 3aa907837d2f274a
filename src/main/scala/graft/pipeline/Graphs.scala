package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a pair list — the step that turns
  * near-duplicate PAIRS into duplicate CLUSTERS (one representative per
  * cluster is the usual keep-policy in a training-data dedup pass).
  *
  * Algorithm: iterative min-label propagation with pointer jumping
  * (path doubling). Each round does two shuffles:
  *
  *   1. neighbor-min — every node adopts the smallest label in its closed
  *      neighborhood (one `groupBy(node).min(label)` over the symmetric
  *      edge list);
  *   2. pointer jump — every node re-reads the label OF its label
  *      (`labels join labels on lbl = id`), which halves the depth of any
  *      label chain.
  *
  * Step 1 alone converges in O(diameter) rounds (a 1000-link chain of
  * near-dup docs — common in templated web text — would take 1000 shuffles
  * at 100 TB). The jump in step 2 gives the Hash-to-Min style O(log d)
  * bound [Rastogi et al., "Finding Connected Components in Map-Reduce in
  * Logarithmic Rounds", ICDE 2013], so even a pathological million-doc
  * template chain resolves in ~20 rounds.
  *
  * Per-round cost is ONE job: the round's (id, lbl) rows materialize into
  * the block manager over their UNSAFE representation (16 bytes/node, no
  * external-Row decode) while a `LongAccumulator` counts changed labels in
  * the same pass — there is no separate convergence-count job, and every
  * round re-wraps the persisted rows as a fresh `LogicalRDD`, so Catalyst
  * always optimizes a constant-depth plan (an iterative plan that only
  * caches GROWS its logical tree every round and re-analysis dominates
  * wall-clock long before the data does). The previous round's blocks are
  * unpersisted as soon as the new round lands, the edge list's when the
  * loop exits, and the label-map/final-labels pins as soon as the
  * returned expansion has materialized over them — so block-manager
  * footprint is O(nodes + edges) DURING a call and exactly the result's
  * O(nodes) after it (those last blocks are freed by Spark's
  * ContextCleaner when the caller drops the returned frame).
  */
object Graphs {

  /** Connected components of the undirected graph given by `pairs`
    * (columns `id_a`, `id_b`, both long). Returns one row per node that
    * appears in any pair: (id, component) where `component` is the SMALLEST
    * node id reachable from `id` — deterministic, so a downstream
    * keep-smallest-id dedup policy needs no extra ordering pass.
    *
    * `maxRounds` is a safety bound; with pointer jumping, 32 rounds covers
    * any graph up to diameter 2^32. Convergence is detected by the fused
    * changed-label accumulator (task retries can only inflate the count,
    * never fake a zero, so a spurious extra round is the worst case).
    *
    * '''Measured-size gate''' (`localEdgeCutoff`, same shape as the
    * broadcast-iff-measured-small gates elsewhere in the pipeline): the
    * edge list's size is COUNTED first, and at or under the cutoff the
    * components resolve driver-side by union-find over the collected
    * pairs — ONE job against the already-cached edges instead of
    * O(log d) rounds of two shuffles each. Near-dup pair lists are tiny
    * compared to their corpora (a corpus with pairs ≈ corpus has bigger
    * problems than clustering), so at moderate scale the iterative
    * rounds are pure fixed driver/job overhead; at 100 TB a
    * billion-pair list blows the cutoff and takes the distributed loop.
    * The driver path returns a LocalRelation, so downstream joins
    * against it (the keep-one-per-cluster anti-join) plan broadcast with
    * no extra exchange. Both paths compute the identical min-label
    * fixpoint — property-checked against each other and a reference
    * union-find over random graphs. Set `localEdgeCutoff <= 0` to force
    * the distributed tier unconditionally (the strict override the scale
    * harness uses — a driver gate of `0 <= 0` would silently route a
    * near-empty forced run back through the driver path).
    *
    * '''Two-phase contraction''' (the distributed tier's first move):
    * before any label round, ONE closed-neighborhood-min pass assigns
    * every node the smallest id it can see (`lbl = min(id, neighbors)`),
    * and the edge list is REWRITTEN into label space —
    * `(lbl(a), lbl(b))`, self-loops dropped, parallel edges deduped.
    * Near-dup graphs are clique-shaped (a template cluster's members are
    * all pairwise similar), and a clique contracts to ZERO edges in this
    * one pass: every member sees the cluster minimum directly, so every
    * rewritten edge is a self-loop. What survives are the rare
    * chain/bridge edges — typically a vanishing fraction of the pair
    * list — so the gate RE-CHECK after contraction usually lands
    * driver-side and the label loop never runs at all; when it does run,
    * each of its per-round shuffled joins pays for the contracted list,
    * not the raw pairs. Correctness: label-space edges preserve
    * connectivity exactly (a node and its label are adjacent-or-equal in
    * the original graph), a component's minimum labels itself (its
    * neighbors are all larger), and the final expansion
    * `component(x) = component(lbl(x))` re-attaches the dropped members
    * — the identical min-label fixpoint, property-checked. A
    * partition-local union-find pre-pass was measured INSTEAD and
    * rejected: on hash-scattered clique edges each task sees most nodes
    * with few within-partition connections, so its star-edge output was
    * ≥ the input (195 s at 32×, no shrink). */
  def connectedComponents(
      pairs: DataFrame,
      maxRounds: Int = 32,
      localEdgeCutoff: Long = 1000000L,
      maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val spark = pairs.sparkSession

    // Persist a frame's unsafe rows and wrap them back as a
    // lineage-truncated DataFrame (LogicalRDD). Lazy: the blocks fill the
    // first time a job computes them (round 1 materializes edges + init
    // labels + its own step in one job). Shared primitive since round 19
    // (the PPJoin pair generator pins the same way).
    def pin(df: DataFrame): (RDD[InternalRow], DataFrame) = PlanUtil.pin(df)

    // Pin the DIRECTED pairs, then build the symmetric view from the
    // cache: a union of two projections of the raw pair-gen plan would
    // evaluate that plan TWICE (no exchange to reuse across the
    // branches) — measured as ~half the gated tier's wall at 32×.
    // The gate count doubles as the cache-filling action: either path
    // reads the pinned blocks after this, never the pair-gen lineage again.
    // So the pin (where adaptive execution runs the pair plan's shuffle
    // stages) and this count are pair generation, and the rest labelling.
    val ((pairsRdd, pairsP), symEdgeCount) = StageTimers.timed("cc_pairgen") {
      val pinned = pin(pairs
        .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b")))
      (pinned, 2L * pinned._2.count())
    }
    val raw = pairsP
      .union(pairsP.select(col("b").as("a"), col("a").as("b")))

    StageTimers.timed("cc_label") {
      if (localEdgeCutoff > 0 && symEdgeCount <= 2L * localEdgeCutoff) {
        val rows = raw.collect() // from cache — symmetric, duplicates harmless
        pairsRdd.unpersist(blocking = false)
        localComponents(spark, rows)
      } else contractedComponents(spark, raw, pairsRdd, pin,
        maxRounds, localEdgeCutoff, maxBroadcastBytes)
    }
  }

  /** The distributed tier over the symmetric edge list `raw` (pinned as
    * `pairsRdd`): contraction, label-space components, expansion. */
  private def contractedComponents(
      spark: SparkSession,
      raw: DataFrame,
      pairsRdd: RDD[InternalRow],
      pin: DataFrame => (RDD[InternalRow], DataFrame),
      maxRounds: Int,
      localEdgeCutoff: Long,
      maxBroadcastBytes: Long): DataFrame = {
    // Phase 1: one closed-neighborhood-min pass + edge rewrite into label
    // space (see the contraction doc above). The count materializes the
    // contracted blocks and re-checks the gate — clique-shaped near-dup
    // graphs contract to (nearly) nothing, so the loop usually never runs.
    val (l0Rdd, l0) = pin(raw
      .groupBy(col("a").as("id"))
      .agg(min(col("b")).as("__mb"))
      .select(col("id"), least(col("id"), col("__mb")).as("lbl")))
    // The count is one job against blocks the gate count was filling
    // anyway; it feeds the rewrite joins' BYTE-measured broadcast gate.
    val l0Count = l0.count()
    val (edgesRdd, edges) =
      pin(rewriteToLabelSpace(raw, l0, l0Count, maxBroadcastBytes))
    val contractedCount = edges.count()
    pairsRdd.unpersist(blocking = false)

    // Phase 2: solve label-space components — driver union-find when the
    // contraction landed at or under the cutoff, the label loop otherwise.
    val (comp, compRdd): (DataFrame, Option[RDD[InternalRow]]) =
      if (localEdgeCutoff > 0 && contractedCount <= 2L * localEdgeCutoff) {
        val rows = edges.collect()
        edgesRdd.unpersist(blocking = false)
        (localComponents(spark, rows), None)
      } else loopComponents(spark, edges, edgesRdd, maxRounds, pin)

    // Phase 3: expansion — component(x) = component(lbl(x)); a label with
    // no surviving edge IS its component's minimum already. The driver
    // path's comp is a LocalRelation, so this join plans broadcast. The
    // expansion is pinned and MATERIALIZED here (one O(nodes) job) so
    // every upstream pin — the l0 map and the loop tier's final labels —
    // can be RELEASED before returning; without this the result plan
    // keeps l0Rdd reachable and repeated calls (the scale harness makes
    // 2-3 per run) stack O(nodes) block sets until a GC happens to run.
    // The result's own blocks are the one surviving set: Spark's
    // ContextCleaner frees them once the caller drops the frame.
    val (resRdd, res) = pin(l0
      .join(
        comp.select(col("id").as("__cid"), col("lbl").as("__clbl")),
        col("lbl") === col("__cid"), "left")
      .select(col("id"), coalesce(col("__clbl"), col("lbl")).as("lbl")))
    resRdd.count()
    l0Rdd.unpersist(blocking = false)
    compRdd.foreach(_.unpersist(blocking = false))
    res
  }

  /** Rewrite the symmetric edge list into label space — `(lbl(a),
    * lbl(b))`, self-loops dropped, parallel edges deduped (Phase 1's
    * second half; see the contraction doc on [[connectedComponents]]).
    *
    * '''Byte-measured broadcast gate''' (same discipline as the LM
    * scorer's table gate): a pinned frame carries no stats, so without a
    * hint both joins sort-merge and SHUFFLE THE FULL EDGE LIST twice
    * (measured ~2× the contraction's cost at 32×) — but an unconditional
    * hint would OOM the driver on a 100 TB graph's billions of nodes.
    * The node map's payload is 16 bytes/row (two longs), so the map
    * broadcasts iff `16 × l0Count ≤ maxBroadcastBytes` — the default
    * 64 MB cutoff admits ~4M nodes, the level the previous node-count
    * gate hardcoded; past it the joins degrade to shuffles correctly. */
  private[graft] def rewriteToLabelSpace(
      raw: DataFrame,
      l0: DataFrame,
      l0Count: Long,
      maxBroadcastBytes: Long): DataFrame = {
    def lblSide(as: String, renamed: String): DataFrame = {
      val side = l0.select(col("id").as(as), col("lbl").as(renamed))
      if (16L * l0Count <= maxBroadcastBytes) broadcast(side) else side
    }
    raw
      .join(lblSide("a", "__la"), Seq("a"))
      .join(lblSide("b", "__lb"), Seq("b"))
      .filter(col("__la") =!= col("__lb"))
      .select(col("__la").as("a"), col("__lb").as("b"))
      .distinct()
  }

  /** The log-round min-label + pointer-jump loop over a pinned symmetric
    * edge list — the distributed overflow tier (see the class doc for the
    * per-round shape and the fused changed-label accumulator). */
  private def loopComponents(
      spark: SparkSession,
      edges: DataFrame,
      edgesRdd: RDD[InternalRow],
      maxRounds: Int,
      pin: DataFrame => (RDD[InternalRow], DataFrame))
      : (DataFrame, Option[RDD[InternalRow]]) = {
    val sc = spark.sparkContext
    var (labelsRdd, labels) = pin(
      edges.select(col("a").as("id")).distinct().withColumn("lbl", col("id")))

    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // 1. closed-neighborhood min: min(own label, labels of all neighbors)
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min("lbl").as("nbr_lbl"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
      // 2. pointer jump: follow the label one hop (label values are node
      // ids, so the self-join always resolves; coalesce guards roots)
      val jumped = stepped.as("x")
        .join(
          stepped.select(col("id").as("j_id"), col("lbl").as("j_lbl")),
          col("x.lbl") === col("j_id"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("j_lbl"), col("x.lbl")).as("lbl"),
          col("x.prev").as("prev"))

      // Materialize the round AND count changed labels in the SAME job:
      // project (id, lbl, prev) -> (id, lbl) with an unsafe projection,
      // ticking the accumulator where lbl != prev, then persist + count.
      val fields = jumped.schema.fields
      val changedAcc = sc.longAccumulator("graft.cc.changed")
      val next = jumped.queryExecution.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(Seq[Expression](
          BoundReference(0, fields(0).dataType, fields(0).nullable),
          BoundReference(1, fields(1).dataType, fields(1).nullable)))
        it.map { r =>
          if (r.getLong(1) != r.getLong(2)) changedAcc.add(1L)
          proj(r).copy(): InternalRow
        }
      }
      next.persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      val prevRdd = labelsRdd
      labelsRdd = next
      labels = GraftInternal.internalCreateDataFrame(
        spark, next, StructType(fields.take(2)))
      prevRdd.unpersist(blocking = false)
      converged = changedAcc.value == 0L
      round += 1
    }
    edgesRdd.unpersist(blocking = false)
    // the final labels RDD goes back to the caller for release once the
    // Phase-3 expansion has materialized over it
    (labels, Some(labelsRdd))
  }

  /** Driver-side min-label components over a collected edge list:
    * union-find with iterative path compression (no recursion — a cutoff-
    * sized chain must not blow the stack) and union-by-min, so each final
    * root is the smallest id in its component — the same fixpoint the
    * distributed loop converges to. Output is a LocalRelation (id, lbl),
    * one row per node that appears in any edge, broadcast-sized by the
    * cutoff that routed here. */
  private def localComponents(
      spark: SparkSession, rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) x = parent.getOrDefault(x, x)
      // path compression: re-walk, pointing every hop at the root
      var y = x0
      while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
      x
    }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = new Array[(Long, Long)](parent.size)
    val it = parent.keySet.iterator
    var i = 0
    while (it.hasNext) { val k = it.next(); out(i) = (k, find(k)); i += 1 }
    out.toSeq.toDF("id", "lbl")
  }
}
