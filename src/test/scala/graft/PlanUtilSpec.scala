package graft

import graft.pipeline.PlanUtil

/** The batch-local planning session's lifecycle contract: parent conf
  * changes reach the very next call, the planner overrides stay pinned,
  * and the clone outlives a GC between calls (see PlanUtil.planner). */
class PlanUtilSpec extends SparkSpec {

  test("a GC between calls keeps the clone: no re-clone per batch") {
    // a re-clone per batch also forks an `rm -rf` of the dropped clone's
    // artifact dir when its cleaner runs
    val first = new java.lang.ref.WeakReference(PlanUtil.batchLocalSession(spark))
    (1 to 5).foreach { _ => System.gc(); Thread.sleep(50) }
    val again = PlanUtil.batchLocalSession(spark)
    assert(first.get() eq again)
  }

  test("batch-local session re-syncs parent conf changes on every call") {
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      val c1 = PlanUtil.batchLocalSession(spark)
      assert(c1.conf.get("spark.sql.session.timeZone") == tz0)
      // a result-affecting parent change made AFTER the clone existed
      // must reach the next batch plan (the memoized clone snapshots
      // conf at clone time; the per-call re-sync is what carries this)
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val c2 = PlanUtil.batchLocalSession(spark)
      assert(c2.conf.get("spark.sql.session.timeZone") == "America/New_York")
      assert(c2.conf.get("spark.sql.adaptive.enabled") == "false",
        "planner override must survive the re-sync")
      // the interpreted-evaluation overrides survive a parent that sets
      // the same keys explicitly
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      try {
        val c3 = PlanUtil.batchLocalSession(spark)
        assert(c3.conf.get("spark.sql.codegen.wholeStage") == "false")
        assert(c3.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      // parent-side UNSET propagates too
      spark.conf.set("graft.test.sentinel", "on")
      assert(PlanUtil.batchLocalSession(spark)
        .conf.get("graft.test.sentinel") == "on")
      spark.conf.unset("graft.test.sentinel")
      assert(PlanUtil.batchLocalSession(spark)
        .conf.getOption("graft.test.sentinel").isEmpty)
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  test("re-sync skips static keys instead of throwing; custom keys still propagate") {
    // getAll surfaces static entries (warehouse dir) whose
    // RuntimeConfig.set throws; the sync loops filter them on
    // isStaticConfigKey so an apparent divergence can never fail the
    // batch plan (r17 advice)
    import org.apache.spark.sql.internal.SQLConf
    assert(SQLConf.isStaticConfigKey("spark.sql.warehouse.dir"))
    assert(spark.conf.getAll.keys.exists(SQLConf.isStaticConfigKey),
      "precondition: getAll actually contains static keys")
    // the sync runs over that getAll on every call — it must come back,
    // and UNREGISTERED custom keys (isModifiable=false, yet settable)
    // must keep propagating — the filter must be static-ness, not
    // modifiability
    spark.conf.set("graft.test.unregistered", "yes")
    try {
      assert(!spark.conf.isModifiable("graft.test.unregistered"))
      val c = PlanUtil.batchLocalSession(spark)
      assert(c.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(c.conf.get("graft.test.unregistered") == "yes")
    } finally spark.conf.unset("graft.test.unregistered")
  }

  test("a GC-collected clone is rebuilt transparently") {
    var c: org.apache.spark.sql.SparkSession = PlanUtil.batchLocalSession(spark)
    val probe = new java.lang.ref.WeakReference(c)
    c = null
    var tries = 0
    while (probe.get() != null && tries < 20) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    // whether or not this GC run claimed it (not forceable), the next
    // call must hand back a fully-configured planner
    val again = PlanUtil.batchLocalSession(spark)
    assert(again.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(again.conf.get("spark.sql.shuffle.partitions") == "8")
    // the third pinned override: shard-directory reads (≤64 paths) must
    // list driver-side, not via a distributed listing job per batch
    assert(again.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") == "512")
    // the interpreted-evaluation overrides: batch-scale plans are not
    // compiled (Spark's 100-entry codegen cache cannot hold a batch)
    assert(again.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(again.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
    // interpreted tasks cannot read a DPP row filter's driver-side result
    assert(again.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled") == "false")
    // ...and it must NOT leak to the parent session: corpus-scale reads
    // keep the stock threshold (parallel listing past 32 paths)
    assert(spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") != "512")
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK")
    assert(spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled") == "true")
  }
}
