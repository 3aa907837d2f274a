package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Plan-shape utilities shared by the pipeline stages. */
object PlanUtil {

  /** Persist a frame's unsafe rows and wrap them back as a
    * lineage-truncated DataFrame (LogicalRDD over the persisted
    * InternalRow RDD). Lazy: the blocks fill the first time a job
    * computes them. This is [[Graphs.connectedComponents]]'s pin, shared
    * so every eager pin/release operator (the PPJoin pair generator, the
    * one-shot span remover) uses one audited lifecycle primitive.
    *
    * Lifecycle contract (the Graphs phase discipline — the round-16
    * block-pin leak class is exactly what it prevents): the caller MUST
    * `unpersist` the returned RDD once a DOWNSTREAM pin has materialized
    * over it, and the one pin that survives the call must be the returned
    * result itself, whose blocks Spark's ContextCleaner frees when the
    * caller drops the frame. */
  private[pipeline] def pin(df: DataFrame): (RDD[InternalRow], DataFrame) = {
    if (recordPins)
      pinnedPlans.add(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (rdd,
      GraftInternal.internalCreateDataFrame(df.sparkSession, rdd, df.schema))
  }

  // Opt-in pin-plan recorder (StageTimers' capture shape): a pinned
  // frame's internal plan is invisible to downstream explain()/SQL
  // listeners — the fill happens inside RDD compute under a count over
  // the LogicalRDD leaf — so plan-shape specs and the PlanDump evidence
  // tool capture the plans AS they are pinned. Disabled by default (the
  // hot path must not stringify plans); not thread-safe across concurrent
  // captures, like StageTimers.
  @volatile private var recordPins = false
  private val pinnedPlans =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Enable pin recording, run `body`, return (result, pinned plans in
    * pin order), disable. */
  private[graft] def capturePinnedPlans[T](body: => T): (T, Seq[String]) = {
    pinnedPlans.clear()
    recordPins = true
    try {
      val r = body
      (r, scala.jdk.CollectionConverters
        .IteratorHasAsScala(pinnedPlans.iterator).asScala.toSeq)
    } finally {
      recordPins = false
      pinnedPlans.clear()
    }
  }

  /** Re-root `df` as a single-node logical plan (LogicalRDD over its
    * physical output), cutting the logical lineage.
    *
    * Why this exists: the composed curation pipeline chains index-ingest
    * stages whose plans are heavily SHARED DAGs (the signed frame feeds
    * probe, self-join and append; each verdict set feeds two anti-joins).
    * Execution handles sharing fine, but a downstream stage that embeds
    * the full upstream plan makes every Catalyst pass — and, far worse,
    * AQE's per-query-stage plan-string generation — walk the shared
    * subtrees once per PATH: tree-shaped exponential cost on a DAG. A
    * measured 2-document composed batch spent 160 s of driver CPU
    * stringifying plans versus 7 s running jobs. Truncating at each
    * stage boundary makes every stage's plan O(stage), not O(pipeline).
    *
    * The physical RDD lineage survives unchanged (recompute after cache
    * eviction still works); callers persist + materialize the truncated
    * frame exactly as they would the original. */
  def truncateLineage(df: DataFrame): DataFrame =
    GraftInternal.truncatedDataFrame(df)

  /** The BATCH-LOCAL planning session for `spark`: a clone (shared
    * SparkContext, catalog and block-manager cache; ISOLATED SQL conf —
    * the same primitive Structured Streaming uses to plan micro-batches)
    * with adaptive execution OFF, `defaultParallelism / 4` (min 8)
    * shuffle partitions and INTERPRETED evaluation (whole-stage codegen
    * off, expression factories in `NO_CODEGEN` mode, so dynamic partition
    * pruning off too). One clone, created lazily for the latest parent
    * session (a call from another parent replaces it), held strongly
    * between calls, and re-synced from the parent's explicitly-set SQL
    * conf on every call — a parent-side `session.timeZone`/ANSI change
    * reaches the very next batch plan; only the six planner overrides
    * (AQE, shuffle partitions, partition-discovery threshold, whole-stage
    * codegen, factory mode, dynamic partition pruning) stay pinned.
    *
    * The incremental index chains execute ~6-10 actions per micro-batch
    * whose shuffles are BATCH-scale (band keys, candidate ids, verdict
    * sets — thousands of rows). There AQE's per-exchange query-stage
    * materialization only adds driver round-trips: measured on the
    * composed pipeline, one fixed-size batch ran 25-40 extra jobs under
    * AQE, and at this box's 40-60 ms/job floor that is seconds of pure
    * scheduling; AQE-off with cores/4 partitions ran the same batch
    * 15-25% faster across interleaved A/B passes. Corpus-scale work is
    * UNAFFECTED: one-shot probes/builds and every non-index query keep
    * AQE (skew splitting, coalescing) — this session plans only the
    * per-batch ingest chain, whose SHUFFLES are bounded by the crawl
    * batch. Its SCANS are not: the probe side reads every shard the
    * batch's keys hit, and a 252-document `curate_stream` batch hits all
    * 64, so each batch scans the whole span gram table (164,556 rows)
    * and the LSH bucket table twice (64,432 rows each; counts from the
    * Spark event log).
    *
    * Why interpreted: Spark keys its JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf, 100 entries) by
    * (context class loader, source). A `curate_stream` batch planned with
    * codegen needs ~190 entries — each of its 64 whole-stage classes
    * compiles once on the driver and once under the executor's
    * per-session class loader, plus 57 projections — so the cache evicts
    * the whole working set every batch (185 of batch 2's 193 classes were
    * byte-identical to batch 1's): 194-195 compiles and 2.6-3.0 s of
    * janino per ~9 s batch (4-core VM). Planned interpreted, a steady batch
    * compiles 1 class, and `curate_stream` `latency_p50_ms` fell
    * 7.6 → 5.1 s (median of 10 alternating pairs, lower in all 10) with
    * jobs and tasks per batch unchanged. The hot kernels lose nothing: every
    * custom expression's `doGenCode` calls the same Scala function its
    * `eval` does (minhash, shingles, fingerprint, jaccard, span cut).
    * Whole-stage codegen off ALONE does not pay (157 compiles per batch
    * of per-operator projections); a larger cache is the host's static
    * conf, which a library cannot set on a session it did not build.
    * `factoryMode` is an internal Spark conf, so `CodegenBudgetSpec` fails
    * loudly if a Spark upgrade stops honoring it. The parent session's
    * plans (the raw scan, the curated append) keep whole-stage codegen,
    * and now fit the cache.
    *
    * Why a clone and not a conf toggle (the round-15 shape): a toggle on
    * the SHARED session changes how every concurrently-planned query
    * plans — a user running ad-hoc queries against the session while a
    * stream ingests would silently get AQE-off, 8-partition plans. Conf
    * is per-session, so the clone isolates the knobs with zero contract
    * on the caller; cache lookups are plan-keyed in the SHARED
    * CacheManager, so frames persisted on either session still hit. */
  def batchLocalSession(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    synchronized {
      if (planner == null || (planner._1 ne spark))
        planner = (spark, GraftInternal.cloneSession(spark))
      val clone = planner._2
      // Re-sync the clone's SQL conf from the parent on EVERY call: the
      // clone snapshots conf at clone time, so a parent-side change made
      // later (session time zone, ANSI mode, a pushdown toggle) would
      // otherwise silently never reach batch planning — a divergence the
      // old shared-session toggle never had. Diffing explicitly-set
      // entries is O(set conf keys) per ingest batch, noise next to the
      // batch's jobs. The planner overrides stay pinned.
      // Static SQL confs are skipped outright: getAll surfaces them, they
      // can never legally diverge between parent and clone (one shared
      // SharedState), and RuntimeConfig.set on one THROWS — an apparent
      // divergence would fail the whole batch plan (r17 advice). NOT
      // isModifiable: that also rejects unregistered custom keys, which
      // users CAN set and which must keep propagating. The Try backstops
      // the remaining throwable shape (core-Spark entries under
      // setCommandRejectsSparkCoreConfs) — those never diverge either, so
      // a swallowed set is a set of an already-equal value.
      val pc = spark.conf.getAll
      val cc = clone.conf.getAll
      pc.foreach { case (k, v) =>
        if (!plannerOverrides(k) && !cc.get(k).contains(v) &&
            !org.apache.spark.sql.internal.SQLConf.isStaticConfigKey(k))
          scala.util.Try(clone.conf.set(k, v))
      }
      (cc.keySet -- pc.keySet).foreach { k =>
        if (!plannerOverrides(k) &&
            !org.apache.spark.sql.internal.SQLConf.isStaticConfigKey(k))
          scala.util.Try(clone.conf.unset(k))
      }
      clone.conf.set("spark.sql.adaptive.enabled", "false")
      clone.conf.set("spark.sql.shuffle.partitions",
        math.max(8, spark.sparkContext.defaultParallelism / 4).toString)
      // batch-side index reads open a bounded set of shard DIRECTORIES
      // (≤ numShards, 64 here); above the stock threshold of 32 Spark
      // launches a distributed listing JOB for them — a whole driver
      // round-trip per pruned read per micro-batch to list a few dozen
      // directories a driver thread lists in microseconds. Raised only
      // on this session: corpus-scale reads keep the stock threshold
      // (thousands of partition dirs should list in parallel).
      clone.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "512")
      // interpreted evaluation: batch-scale plans cost less to interpret
      // than to recompile every batch (see the scaladoc)
      clone.conf.set("spark.sql.codegen.wholeStage", "false")
      clone.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      // ...which dynamic partition pruning does not survive: a DPP filter
      // that stays a row filter (the unpartitioned delta tail under a
      // union) keeps its subquery result on the driver, where only
      // generated code reads it, so interpreted tasks fail "has not
      // finished". The index reads prune their directories statically
      // (IndexMaintenance.readWithDelta), so DPP only re-filtered rows
      // the join drops anyway.
      clone.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
        "false")
      clone
    }

  private val plannerOverrides =
    Set("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.sources.parallelPartitionDiscovery.threshold",
      "spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled")

  /** Re-root `df`'s analyzed plan onto `session` (no-op when already
    * there), so the ingest chains can carry their caller's batch frame
    * into the [[batchLocalSession]] — a Dataset always plans on the
    * session it was created with, never the one executing the action. */
  def onSession(
      df: DataFrame, session: org.apache.spark.sql.SparkSession): DataFrame =
    if (df.sparkSession eq session) df else GraftInternal.ofRows(session, df)

  /** (parent, clone) of the latest [[batchLocalSession]] call, held
    * strongly: a dropped clone is recloned on the next batch, and each
    * dropped clone's cleaner forks an `rm -rf` of its artifact dir. */
  private var planner: (org.apache.spark.sql.SparkSession,
    org.apache.spark.sql.SparkSession) = null
}
