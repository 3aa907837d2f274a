package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Memo
import graft.core.log.LogWriter
import graft.core.groups.{RangeAssignor, RoundRobinAssignor, StickyAssignor}
import graft.core.routing.PartitionRouter
import graft.functions.{BloomFunctions => BF, CmsFunctions => CF, HeaderFunctions => H, HllFunctions => HF, Murmur2, TextFunctions => T, VectorFunctions => V}
import graft.pipeline.{Chunking, Contamination, Dedup, Dsir, Graphs, LshIndex, Multimodal, Quality, Sampling, Similarity, Skew, SpanIndex, SrpIndex}

/** One named query per implemented operator (SURVEY.md §2 + the pipeline
  * extensions), each paired with a DuckDB oracle in [[Oracles]] where the
  * semantics are ANSI-SQL-expressible. The driver hash-compares column-sorted
  * results, so every computed column is aliased identically on both sides,
  * doubles are rounded or summed as decimals (exact, associative), and any
  * top-k ordering carries a deterministic tie-break.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Every [[Fit]] declared below, in declaration order — the registry
    * [[coldFits]] enumerates. */
  private val fits = scala.collection.mutable.ArrayBuffer.empty[Fit[_]]

  /** A fitted model, standing state per input dir: fitted on first use and
    * refitted when the dir's listing changes ([[graft.core.Memo]]).
    * Re-running a fit per query invocation re-pays its corpus passes and
    * driver jobs for a bit-identical model. */
  private final class Fit[M](val name: String)(fit: (SparkSession, String) => M) {
    fits += this
    def apply(spark: SparkSession, dir: String): M =
      Memo(s"fit.$name", dir, Memo.listing(dir))(fit(spark, dir))
  }

  /** Standing on-disk state per input dir (an index, a warehouse): built
    * by `build` into a fresh scratch dir on first use, rebuilt into
    * another when the input dir's listing changes. */
  private def standing[V](kind: String, dir: String)(build: String => V): V =
    Memo(kind, dir, Memo.listing(dir))(build(Memo.scratchDir(s"graft-$kind")))

  /** events with `ts` as long epoch nanos, whichever physical type the
    * driver generated: TIMESTAMP(NANOS) parquet arrives as LongType already
    * (session sets nanosAsLong), while timestamp[us] arrives as
    * TIMESTAMP_NTZ and is converted via unix_micros under the UTC session —
    * both agree with DuckDB's `epoch_ns(ts)` on the same file. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  // ===================== flux-core: log engine semantics =====================

  /** S3/B9/P1: keyless ingest — deterministic round-robin routing + dense
    * gapless per-partition offset assignment (the pure transform inside
    * LogWriter.append). */
  def ingestOffsets(spark: SparkSession, dir: String): DataFrame =
    LogWriter.assignOffsets(
        events(spark, dir).select(col("event_id")),
        explicitPartition = lit(null).cast("int"),
        key = lit(null).cast("string"),
        ord = col("event_id"),
        numPartitions = 4)
      .select(col("event_id"), col("partition"), col("offset"))

  /** S6/S7: poll — one partition's offset-ordered slice [100, 150). */
  def pollSlice(spark: SparkSession, dir: String): DataFrame =
    ingestOffsets(spark, dir)
      .filter(col("partition") === 2 && col("offset") >= 100 && col("offset") < 150)
      .orderBy(col("offset"))
      .select(col("event_id"), col("offset"))

  /** Kafka's `offsetsForTimes` semantics as a pure oracle-able transform:
    * route + offset-assign the event stream, then per partition take the
    * EARLIEST offset whose timestamp is at or after the corpus midpoint
    * (data-derived threshold; the bounds agg is metadata-scale, like q5's
    * region list). Warehouse API form: `LogReader.offsetsForTimes`. */
  def offsetsForTimes(spark: SparkSession, dir: String): DataFrame = {
    val o = LogWriter.assignOffsets(
        events(spark, dir).select(col("event_id"), expr("ts div 1000000").as("ts_ms")),
        explicitPartition = lit(null).cast("int"),
        key = lit(null).cast("string"),
        ord = col("event_id"),
        numPartitions = 4)
    val b = o.agg(min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi")).head()
    val thr = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    o.filter(col("ts_ms") >= thr)
      .groupBy(col("partition"))
      .agg(min(col("offset")).as("first_offset"))
  }

  /** P1/P2: murmur2 key routing (Kafka-parity hash, replayed bit-exactly
    * by the DuckDB oracle's UDF-free integer chain). */
  def routeMurmur2(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        PartitionRouter.routeByKey(col("user_id").cast("string"), 8).as("partition"))

  /** C3: header multimap ops — add twice (dup key), lastHeader wins, count. */
  def headersLast(spark: SparkSession, dir: String): DataFrame = {
    val withHeaders = events(spark, dir).withColumn("headers",
      H.addHeader(
        H.addHeader(lit(null).cast("array<struct<key:string,value:binary>>"),
          lit("src"), col("event_type")),
        lit("src"), col("props")))
    withHeaders.select(
      col("event_id"),
      H.lastHeader(col("headers"), "src").cast("string").as("last_src"),
      H.headerCount(col("headers")).as("n_headers"),
      size(H.removeHeader(col("headers"), "src")).as("n_after_remove"))
  }

  /** G2: range assignor — 5 members (region names) × 23 partitions exercises
    * the base/extra math (base=4, extra=3). */
  def assignRange(spark: SparkSession, dir: String): DataFrame = {
    val members = t(spark, dir, "region").select("r_name")
      .collect().map(_.getString(0)).toSeq.sorted
    val out = RangeAssignor.assign(members, Map("T" -> 23))
    val rows = for {
      (m, topics) <- out.toSeq
      p <- topics("T")
    } yield (m, p)
    spark.createDataFrame(rows).toDF("member", "partition")
      .select(col("member"), col("partition").cast("int").as("partition"))
  }

  /** G3: round-robin assignor — cyclic deal of 23 partitions to 5 members. */
  def assignRoundRobin(spark: SparkSession, dir: String): DataFrame = {
    val members = t(spark, dir, "region").select("r_name")
      .collect().map(_.getString(0)).toSeq.sorted
    val out = RoundRobinAssignor.assign(members, Map("T" -> 23))
    val rows = for {
      (m, topics) <- out.toSeq
      p <- topics("T")
    } yield (m, p)
    spark.createDataFrame(rows).toDF("member", "partition")
      .select(col("member"), col("partition").cast("int").as("partition"))
  }

  /** G4: sticky assignor from a cold start (no previous claims) — phase-2
    * min-heap deal, which from empty state is a deterministic cyclic deal. */
  def assignSticky(spark: SparkSession, dir: String): DataFrame = {
    val members = t(spark, dir, "region").select("r_name")
      .collect().map(_.getString(0)).toSeq.sorted
    val out = StickyAssignor.assign(members, Map("T" -> 23))
    val rows = for {
      (m, topics) <- out.toSeq
      p <- topics("T")
    } yield (m, p)
    spark.createDataFrame(rows).toDF("member", "partition")
      .select(col("member"), col("partition").cast("int").as("partition"))
  }

  /** K4: liveness snapshot — latest heartbeat per member (user), alive iff
    * within 24h of the stream's end. Batch analog of the
    * mapGroupsWithState operator (the streaming form is spec-tested). */
  def livenessSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val beats = events(spark, dir).select(
        col("user_id").cast("string").as("memberId"),
        expr("ts div 1000000").as("ts"), // nanos -> millis
        col("event_id").as("seq"),
        lit(0).as("partitionCount"))
      .as[graft.streaming.Liveness.Heartbeat]
    val nowMs = beats.agg(org.apache.spark.sql.functions.max("ts")).head().getLong(0)
    graft.streaming.Liveness
      .snapshot(spark, beats, nowMs,
        graft.core.LivenessConfig(heartbeatIntervalMs = 8 * 3600 * 1000L, missedThreshold = 3))
      .toDF()
      .select(col("memberId").as("member_id"), col("lastTs").as("last_ts"),
        col("lastSeq").as("last_seq"), col("alive"))
  }

  /** B6: batch-expiry semantics — records older than the TTL horizon are
    * dropped (the reference's delivery.timeout.ms expiry as a filter). */
  def expireTtl(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("ts_ms", expr("ts div 1000000"))
    val horizon = ev.agg(max(col("ts_ms"))).head().getLong(0) - 7L * 24 * 3600 * 1000
    ev.filter(col("ts_ms") >= horizon)
      .select(col("event_id"), col("ts_ms"))
  }

  /** K7/P5 admin surface: ingest the events table into a real on-disk topic
    * (keyless round-robin over event_id = the ingest_offsets routing), then
    * describe it — per-partition record counts and committed offset range,
    * answered from the driver-side index cache. The oracle recomputes the
    * same description from the routing function alone. */
  def describeTopic(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.catalog.{TopicCatalog, Warehouse}
    val wh = Warehouse(Memo.scratchDir("graft-admin"))
    TopicCatalog.createTopic(spark, wh, "events", 4)
    graft.core.log.LogWriter.append(spark, wh, "events",
      events(spark, dir).select(col("event_id"), col("props").as("value")),
      "event_id")
    graft.core.admin.Admin.describeTopic(spark, wh, "events")
      .select(col("partition"), col("n_records"),
        col("base_offset"), col("end_offset"))
  }

  // ===================== query layer over the log tables =====================

  /** Aggregation: TPC-H Q1-shaped pricing summary (decimal-exact sums). */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** Join + agg + top-k: shipping-priority style (broadcastable dims). */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(28,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Multi-way join: revenue per nation for one region. */
  def q5Region(spark: SparkSession, dir: String): DataFrame = {
    val region = broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA"))
    val nation = broadcast(t(spark, dir, "nation"))
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val sup = t(spark, dir, "supplier")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey") &&
        cust("c_nationkey") === sup("s_nationkey"))
      .join(nation, sup("s_nationkey") === nation("n_nationkey"))
      .join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(28,4)")).cast("double").as("revenue"))

  }

  /** Filter + scalar agg with full predicate pushdown. */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.09) && col("l_quantity") < 24)
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(18,2)")).cast("decimal(28,4)"))
        .cast("double").as("revenue"))

  /** Window functions: top-3 orders per customer by totalprice. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rank").cast("int").as("rank"))
  }

  /** Event-time tumbling window (batch form of the streaming agg). `ts` is
    * long nanos here; truncate to the hour. */
  def qEventsHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("hour", date_trunc("hour",
        timestamp_micros(expr("ts div 1000"))))
      .groupBy(col("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  /** Ordered-funnel analysis: users progressing view → click → purchase,
    * each step strictly AFTER the previous one's first completion. Three
    * chained window mins over the SAME user partitioning — Catalyst
    * stacks them on ONE exchange+sort, so the funnel costs a single
    * user-keyed shuffle at any scale. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val perUser = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
    perUser
      .agg(count(col("t1")).as("v"), count(col("t2")).as("c"),
        count(col("t3")).as("p"))
      .select(explode(map(
        lit("1_view"), col("v"),
        lit("2_click"), col("c"),
        lit("3_purchase"), col("p")))
        .as(Seq("stage", "users")))
  }

  /** Cohort retention: users grouped by first-signup week, counted as
    * retained in each week offset they show ANY activity. All-integer day
    * arithmetic on the raw nano timestamps (exact on both engines); one
    * user-keyed aggregation plus a broadcast-size first-signup join. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 86400000000000").as("day"))
    val first = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    e.join(first, Seq("user_id"))
      .filter(col("day") >= col("d0"))
      .select(col("user_id"), expr("d0 div 7").as("cohort_week"),
        expr("(day - d0) div 7").as("week"))
      .groupBy(col("cohort_week"), col("week"))
      .agg(countDistinct(col("user_id")).as("users"))
  }

  /** Sessionization: split each user's event stream at >30 min gaps
    * (lag + cumulative-sum session ids — the batch form of
    * `session_window`), then aggregate per session. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    events(spark, dir)
      .withColumn("ts_ms", expr("ts div 1000000"))
      .withColumn("prev", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull || col("ts_ms") - col("prev") > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("session_start"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("duration_ms"))
  }

  /** Interval join (conversion attribution): every (click, purchase) pair
    * of one user where the purchase lands within an hour of the click —
    * equi-join on the user key with the time bound as a post-join range
    * predicate: shuffles on user_id only, never a cross product. The
    * streaming form (stream-stream join with watermark-bounded state) is
    * spec'd in GroupsStreamingSpec. */
  def qIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("ts_ms", expr("ts div 1000000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_ms").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ts"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + 3600L * 1000)
      .select(col("click_id"), col("purchase_id"),
        (col("purchase_ts") - col("click_ts")).as("lag_ms"))
  }

  /** As-of join (funnel attribution): each click event joined to the user's
    * latest purchase at or before it — composed as union + window, no join
    * explosion (SURVEY.md §4: built-in composition over custom operator). */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("ts_ms", expr("ts div 1000000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"),
        col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ts"))
    graft.pipeline.Temporal.asOfJoin(
        clicks, purchases, key = "user_id", ts = "ts_ms",
        payload = Seq("purchase_id", "purchase_ts"))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("asof_purchase_id"), col("asof_purchase_ts"))
  }

  /** Range join: same-user event pairs within 60 s, via time-bucket
    * equi-join + exact refine (never a cartesian product). */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("ts_ms", expr("ts div 1000000"))
    val a = ev.select(col("user_id"), col("event_id").as("id_a"), col("ts_ms").as("ts_a"))
    val b = ev.select(col("user_id"), col("event_id").as("id_b"), col("ts_ms").as("ts_b"))
    graft.pipeline.Temporal.rangeJoin(a, b, "user_id", "ts_a", "ts_b", 60000L)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        abs(col("ts_a") - col("ts_b")).as("gap_ms"))
  }

  /** Distinct + having-style aggregation. */
  def qBrandStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("p_type")).as("n_types"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .filter(col("n_types") >= 1)

  /** Set operation: customers with open orders but no filled orders. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    ord.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(ord.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
  }

  /** Semi join: suppliers that shipped at least one lineitem. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    t(spark, dir, "supplier")
      .join(li, col("s_suppkey") === li("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** Anti join: customers with no in-progress ('P') orders. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders").filter(col("o_orderstatus") === "P")
    t(spark, dir, "customer")
      .join(ord, col("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Correlated-exists (TPC-H Q4 shape): count orders per priority having at
    * least one lineitem shipped after the order date. */
  def qPriorityCount(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    ord.join(li,
        ord("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > ord("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
  }

  /** Pivot: order counts per priority × status (fixed column set). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .count()
      .select(col("o_orderpriority"),
        coalesce(col("O"), lit(0L)).as("n_open"),
        coalesce(col("F"), lit(0L)).as("n_filled"),
        coalesce(col("P"), lit(0L)).as("n_pending"))

  /** Exact interpolated quantiles of lineitem quantity per return flag. */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"))

  /** Grouping sets (rollup) over part attributes. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .rollup(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("n"))

  /** CUBE with the grouping-id bitmask — the remaining multi-dimensional
    * aggregation shape next to [[qRollup]]/[[qPivot]]. Quantity sums go
    * through DECIMAL so aggregation order cannot perturb bits; Spark's
    * `grouping_id` and DuckDB's `GROUPING(a, b)` produce the same
    * bitmask (left argument = high bit). */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().cast("int").as("gid"))

  /** Two-phase SALTED aggregation over a hot key
    * ([[graft.pipeline.Skew.saltedAgg]]) — the non-algebraic-state skew
    * fix — oracled against the plain GROUP BY it must equal: counts are
    * order-free and the quantity sum runs through DECIMAL in both
    * phases, so the salt split cannot perturb bits. */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(t(spark, dir, "lineitem"), col("l_returnflag"), salts = 8,
        partial = Seq(count(lit(1)).as("pn"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("pq")),
        combine = Seq(sum(col("pn")).as("n"),
          sum(col("pq")).cast("double").as("sum_qty")))
      .withColumnRenamed("key", "l_returnflag")

  /** Mergeable-sketch distinct counting ([[graft.functions.Hll]]): per-flag
    * HLL sketches of distinct order keys built in ONE pass with map-side
    * partial merge (the shuffle carries 512-byte register arrays, never
    * keys — the 100 TB distinct-count shape), plus the merged '*ALL*' row
    * demonstrating sketch union over pre-aggregated sketches. The FNV-hash
    * sketch is deterministic, so the DuckDB oracle replays registers and
    * estimate bit-exactly. */
  def qDistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey").cast("string").as("k"))
    val per = li.groupBy(col("l_returnflag")).agg(HF.hllSketch(col("k")).as("sk"))
    val all = per.agg(HF.hllMerge(col("sk")).as("sk"))
      .select(lit("*ALL*").as("l_returnflag"), col("sk"))
    per.unionByName(all)
      .select(col("l_returnflag"),
        round(HF.hllEstimate(col("sk")), 6).as("est_distinct"))
  }

  /** Sketch set-algebra: estimated |A∩B| of distinct order keys between
    * return-flag pairs via inclusion–exclusion — est(A)+est(B)−est(A∪B),
    * the union sketch being a register-wise max ([[graft.functions.HllUnion]]).
    * At warehouse scale the inputs are STORED per-partition sketches; here
    * they build from the table inline. */
  def qSketchIntersect(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey").cast("string").as("k"))
    val per = li.groupBy(col("l_returnflag")).agg(HF.hllSketch(col("k")).as("sk"))
    val a = per.select(col("l_returnflag").as("flag_a"), col("sk").as("sk_a"))
    val b = per.select(col("l_returnflag").as("flag_b"), col("sk").as("sk_b"))
    a.join(b, col("flag_a") < col("flag_b"))
      .select(col("flag_a"), col("flag_b"),
        round(
          HF.hllEstimate(col("sk_a")) + HF.hllEstimate(col("sk_b"))
            - HF.hllEstimate(HF.hllUnion(col("sk_a"), col("sk_b"))),
          6).as("est_common"))
  }

  /** Bloom-pruned semi join ([[graft.functions.Bloom]]): the urgent-order
    * key set folds into a 32 KB filter (distributed bit-OR partials), and
    * the lineitem scan drops non-members ROW-LOCALLY inside codegen before
    * the exact semi join — at 100 TB the filter ships where a hash
    * relation can't, and the join shuffle carries only might-contain
    * survivors. False positives cost work, never correctness, so the
    * oracle is the plain semi join. */
  def qBloomSemijoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = urgent
      .agg(BF.bloomAgg(col("o_orderkey").cast("string")).as("b"))
      .head.getAs[Array[Byte]](0) // ONE mBits/8-byte row — metadata-scale
    t(spark, dir, "lineitem")
      .filter(BF.mightContain(bloom, col("l_orderkey").cast("string")))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** Bloom-split anti join: customers with no urgent orders. No false negatives
    * means might-contain=false rows are DEFINITE anti-join results with
    * zero join work; only the might-contain sliver reaches the exact
    * anti join. Oracle = the plain anti join — including on NULL keys: a
    * null key never matches under the anti join's null-unsafe equality,
    * so null-key rows are definite keeps (`mightContain(null)` is null,
    * which would otherwise drop the row from BOTH branches). */
  def qBloomAntijoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val bloom = orders
      .agg(BF.bloomAgg(col("o_custkey").cast("string")).as("b"))
      .head.getAs[Array[Byte]](0)
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val definiteNo = cust
      .filter(col("c_custkey").isNull ||
        !BF.mightContain(bloom, col("c_custkey").cast("string")))
    val maybe = cust
      .filter(BF.mightContain(bloom, col("c_custkey").cast("string")))
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
    definiteNo.unionByName(maybe)
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
  }

  /** Count–Min frequency sketch ([[graft.functions.Cms]]): ONE pass folds
    * every order-key occurrence into a 512 KB depth×width counter array
    * (map-side partial merge; the shuffle carries counters, never keys),
    * then the driver-collected sketch answers point-frequency queries
    * row-locally — est ≥ true count, within εN. Integer-only, so the
    * DuckDB oracle replays hash-exactly. */
  def qCmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val sk = t(spark, dir, "lineitem")
      .select(col("l_orderkey").cast("string").as("k"))
      .agg(CF.cmsAgg(col("k")).as("sk"))
      .head.getAs[Array[Byte]](0) // ONE 512 KB row — metadata-scale
    t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 1000 === 0)
      .select(col("l_orderkey")).distinct()
      .select(col("l_orderkey"),
        CF.cmsEstimate(sk, col("l_orderkey").cast("string")).as("est_freq"))
  }

  /** Salted join over a hot key ([[graft.pipeline.Skew.saltedJoin]]): the
    * left's rows scatter across (key, salt) sub-keys and the right
    * replicates once per salt, splitting each hot key's row group across
    * `salts` tasks — the shuffle-join skew fix when the right side is too
    * big to broadcast. Row-level results equal the plain join (salts only
    * repartition work), which is what the oracle pins. */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val ords = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    Skew.saltedJoin(li, ords, "o_orderkey", salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** Fuzzy entity-matching join: part-name pairs within Levenshtein
    * distance 2. Candidates come from an Ed-Join PREFIX-FILTERED
    * character-3-gram bucket join [Xiao, Wang & Lin, VLDB 2008]: each
    * name is indexed only by its LOCATION-BASED minimal prefix — the
    * shortest rarity-ordered positional-gram prefix whose minimum edit
    * errors exceed d = 2 (greedy interval piercing; one edit destroys
    * only grams starting within a q-wide window). Any pair within
    * distance d shares a gram type in both prefixes (Ed-Join's prefix
    * lemma, property-checked in `PropertySpec` over random total orders
    * and random ≤d-edit pairs). The codegen'd `levenshtein` then
    * verifies exactly.
    *
    * The rarest-first prefix is the scale guard: an unfiltered bucket
    * join explodes quadratically on stop-grams ("ROS", "LAV" — every
    * color name) whose buckets grow linearly with the corpus; prefix
    * buckets hold only names for which that gram is among their rarest
    * few. The gram-frequency table is bounded by the trigram alphabet —
    * collected once and shipped into the codegen'd prefix expression as
    * a plan reference object, never joined or shuffled.
    *
    * Candidate ENUMERATION is a [[graft.pipeline.Skew.saltedJoin]]
    * self-join on the prefix grams, ids only: a plain equi-join puts
    * each gram's whole bucket in ONE task, so a single heavy gram
    * (near-duplicate name families all sharing their rarest gram)
    * serializes the pair enumeration and its partial-distinct — at 32×
    * the corpus that was one 500-second task while 31 cores idled. The
    * salt splits every bucket's pair space across `salts` tasks, the
    * pair shuffle carries 16-byte id pairs (names re-attach AFTER the
    * distinct), and the Levenshtein verify runs post-shuffle, fully
    * parallel.
    *
    * VERIFY volume is then cut by two sound edit-distance LOWER BOUNDS
    * before the ~1600-cell DP pays for a pair: (1) `d` edits change the
    * length by at most `d`, so `|len_a − len_b| > 2 ⇒ dist > 2`; (2) the
    * q-gram COUNT filter [Gravano et al., VLDB 2001] — `d` edits destroy
    * at most `d·q = 6` of a name's distinct 3-grams, so more than 6
    * grams of A absent from B means dist > 2 (the same lemma the
    * 7-rarest prefix uses, now applied as a merge walk over each name's
    * once-computed sorted gram array — O(|grams|) vs the DP's
    * O(len²)). Both property-checked in `PropertySpec`. Oracle is the
    * plain quadratic join. */
  def qFuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = t(spark, dir, "part")
      .filter(col("p_size") <= 3 && length(col("p_name")) >= 9)
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        sort_array(T.charShingles(col("name"), 3)).as("gr"))
    // gram document frequencies: bounded by the 3-gram alphabet, so the
    // table collects to the driver and ships into the prefix expression
    // as a plan reference object — no frequency join, no per-name window
    val freq = new java.util.HashMap[String, Long]()
    names.select(explode(col("gr")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("gc"))
      .collect().foreach(r => freq.put(r.getString(0), r.getLong(1)))
    // Ed-Join LOCATION-BASED prefix (VLDB 2008 §4): instead of the fixed
    // d·q+1 = 7 rarest gram types, each name indexes only the shortest
    // rarity-ordered occurrence prefix whose minimum edit errors exceed
    // d = 2 (greedy interval piercing) — position-disjoint rare grams
    // let most names stop at ~4-6 occurrences, cutting candidate-pair
    // emissions ~3× on this corpus while keeping total recall (lemma
    // property-checked in PropertySpec over random orders and edits)
    val prefix = names.select(col("id"),
      explode(T.edjoinPrefix(col("name"), freq, 3, 2)).as("g"))
    val cand = Skew.saltedJoin(
        prefix.select(col("g"), col("id").as("id_a")),
        prefix.select(col("g"), col("id").as("id_b")),
        "g", salts = 32)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      // No explicit re-spread before the verify (r14 carried a
      // `repartition(defaultParallelism)` here — a SECOND full shuffle of
      // the pair set, −29% of the whole query at 32× once removed): the
      // count filter now rejects ~80% of pairs before the DP, so the DP
      // work per shuffled byte is bounded (~16 B buys ≤ a few hundred DP
      // cells) and AQE's 64 MB-advisory coalescing of the distinct's own
      // exchange can no longer starve the compute-dense stage the way the
      // unfiltered DP did (one 500 s task at 32× while 31 cores idled).
    // names re-attach by BROADCAST, pinned: the frame is dimension-scale
    // (filtered part names + their gram arrays) but its size estimate
    // sits near the 10 MB auto-broadcast threshold at 32×, and when the
    // planner flipped to sort-merge it shuffled the 128M-row pair frame
    // TWICE (measured bimodal 35 s vs 58 s on identical runs)
    cand
      .join(broadcast(names.select(col("id").as("id_a"),
        col("name").as("name_a"), col("gr").as("gr_a"))), Seq("id_a"))
      .join(broadcast(names.select(col("id").as("id_b"),
        col("name").as("name_b"), col("gr").as("gr_b"))), Seq("id_b"))
      // cheap rejects first: length bound, then the gram-count merge walk
      // (ONE walk bounds both directions: |G(b)\G(a)| = absent + |G(b)| −
      // |G(a)| because absent = |G(a)| − |G(a)∩G(b)|)
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
      .withColumn("__absent", T.absentCount(col("gr_a"), col("gr_b")))
      .filter(col("__absent") <= 6 &&
        col("__absent") + size(col("gr_b")) - size(col("gr_a")) <= 6)
      .drop("__absent")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  // ===================== training-data pipeline operators =====================

  /** Exact dedup: lowest doc_id survives per distinct text. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Exact dedup by 64-bit fingerprint (shuffle carries 8 bytes, not the
    * document body) — must agree with [[dedupExact]] barring collisions. */
  def dedupFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByFingerprint(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(spark, dir, "documents"),
        col("doc_id"), col("text"), shingleSize = 3, threshold = 0.8,
        shingler = T.wordShingles)
      .orderBy(col("id_a"), col("id_b"))

  /** Substring-level dedup: remove every word 5-gram span occurring ≥2
    * times corpus-wide (the hash-bucketed Lee et al. 2022 shape — see
    * [[graft.pipeline.Dedup.repeatedSpanRemoval]]). The oracle replays the
    * same FNV-fingerprint grouping and interval union in SQL. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpanRemoval(t(spark, dir, "documents"),
      col("doc_id"), col("text"), k = 5, minCount = 2)

  private val kmeansModel = new Fit("kmeans")((spark, dir) =>
    graft.pipeline.Clustering.kmeansCentroids(
      t(spark, dir, "embeddings"), col("vec_id"), col("embedding"),
      k = 10, iters = 2))

  /** SemDeDup over the embeddings table: the SAME deterministic k-means as
    * `kmeans_clusters` (k=10, 2 Lloyd iterations), then within-cluster
    * cosine ≥ 0.35 drops the higher id (0.35 is this synthetic corpus's
    * near-dup band — the same threshold `dedup_embedding` uses). Survivors
    * only. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Dedup.semanticDedupWith(emb, col("vec_id"), col("embedding"),
      kmeansModel(spark, dir), tau = 0.35)
  }

  /** MinHash-LSH near-dup pairs. Oracle-exact since round 7: the DuckDB
    * side replays the full minhash chain (FNV shingle fingerprints in
    * HUGEINT, band mins, bucket join, exact-Jaccard verify) in SQL. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(spark, dir, "documents"),
      col("doc_id"), col("text"), shingleSize = 5,
      numHashes = 128, bands = 16, threshold = 0.6)

  /** Incremental near-dup detection against a persisted LSH index: docs
    * with doc_id % 4 != 0 are the standing corpus (indexed once per input
    * dir, memoized), the rest arrive as the "new batch" and are probed
    * against the index — the living-corpus shape where each crawl batch
    * checks against everything already ingested without re-mining it.
    * Same LSH parameters as [[dedupMinhash]], so the oracle reuses its
    * exact HUGEINT signature SQL with a corpus/batch split. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val path = standing("lsh-idx", dir) { root =>
      LshIndex.build(docs.filter(col("doc_id") % 4 =!= 0),
        col("doc_id"), col("text"),
        root, shingleSize = 5, numHashes = 128, bands = 16)
      root
    }
    // the fused probe: one signing pass, intermediates cached within the
    // call and freed before return, result re-entering as a batch-bounded
    // local relation — 3 actions instead of 3 recomputing action chains
    LshIndex.probeFused(spark, path, docs.filter(col("doc_id") % 4 === 0),
        col("doc_id"), col("text"), threshold = 0.6)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Incremental substring dedup against a persisted gram index: docs
    * with doc_id % 4 != 0 are the standing corpus (indexed once per
    * input dir, memoized), the rest arrive as the "new batch" and have
    * every span the corpus has already seen (or that repeats within the
    * batch) removed — [[dedupIncremental]]'s substring-granularity
    * sibling. Same k and fingerprints as [[dedupSpans]], so the oracle
    * reuses its FNV gram SQL with a corpus/batch split. */
  def dedupSpansIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val path = standing("span-idx", dir) { root =>
      SpanIndex.build(docs.filter(col("doc_id") % 4 =!= 0),
        col("doc_id"), col("text"), root, k = 5)
      root
    }
    SpanIndex.probe(spark, path, docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"))
  }

  /** Corpus-tuned config shared by the curate-pipeline query and its
    * index seed — the [[graft.streaming.Curation]] defaults with the
    * gopher token band overridden for this corpus's 10–99-token docs
    * (same override as [[gopherFilters]]). */
  private val curateCfg = graft.streaming.CurationConfig(
    minTokens = 30, maxTokens = 90)

  /** Gopher-passing docs → 64/16 chunks with packed uids — the shared
    * front half of the curation composition (query + index seed), using
    * the same verdict-only predicate as
    * [[graft.streaming.Curation.curateBatch]]. */
  private def curateChunks(docs: DataFrame): DataFrame = {
    val kept = docs.select(col("doc_id").as("id"), col("text"))
      .filter(Quality.gopherPasses(col("text"),
        curateCfg.minTokens, curateCfg.maxTokens))
    Chunking.chunkTokens(kept, col("id"), col("text"),
        curateCfg.chunkSize, curateCfg.overlap)
      .withColumn("chunk_uid",
        graft.streaming.Curation.chunkUid(col("id"), col("chunk_id")))
  }

  /** The COMPOSED curation pipeline, batch form
    * ([[graft.streaming.Curation.curateBatch]] — the exact body the
    * streaming query runs per micro-batch): a standing chunk index is
    * built once from the corpus docs (doc_id % 4 != 0, gopher-passed and
    * chunked), then the batch docs (% 4 = 0) flow gopher → chunk →
    * probe-vs-index → within-batch dedup → survivors. The oracle
    * ([[CurateSql]]) replays the whole composition in one statement.
    * Output (chunk_uid, doc_id, chunk_id, n_tokens, chunk_text). */
  /** The memoized standing chunk index of [[curatePipeline]] (built on
    * first use per input dir) — exposed so the bench's per-stage
    * breakdown probes the SAME index the composed query runs against. */
  private[graft] def ensureCurateIndex(spark: SparkSession, dir: String): String =
    standing("curate-idx", dir)(root =>
      chunkIndex(t(spark, dir, "documents"))(root))

  /** A standing chunk index at `root` over the corpus docs (doc_id % 4 !=
    * 0), gopher-passed and chunked. Each composite builds its own: appends
    * from one must not leak into another's probe base. */
  private def chunkIndex(docs: DataFrame)(root: String): String = {
    LshIndex.build(curateChunks(docs.filter(col("doc_id") % 4 =!= 0)),
      col("chunk_uid"), col("chunk_text"),
      root, shingleSize = 5, numHashes = 128, bands = 16)
    root
  }

  /** The batch half's gopher + chunk front (the composed query's first
    * two stages) — bench-only view for the per-stage breakdown. */
  private[graft] def curateBatchChunks(spark: SparkSession, dir: String): DataFrame =
    curateChunks(t(spark, dir, "documents").filter(col("doc_id") % 4 === 0))

  def curatePipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val path = ensureCurateIndex(spark, dir)
    graft.streaming.Curation.curateBatch(spark, path,
      docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"), curateCfg) { survivors =>
      curateSink(spark, "curate_pipeline", survivors)
    }
  }

  /** The curate query wrappers' shared sink: project + order the
    * surviving chunks, persist, and materialize with ONE count — the
    * sink's first action, which runs while curateBatch still has the
    * probe intermediates cached (the curateInto contract), so downstream
    * actions never re-trigger the probe chain. Round 19 replaced the old
    * `collect()` + `createDataFrame` sink: collecting every survivor to
    * the driver is O(batch output) DRIVER memory — the guide-§5 100 TB
    * scale-killer — where the persisted frame stays distributed in the
    * block manager (and recomputes deterministically from the dropped-id
    * literals if evicted). Snapshot lifecycle per query name, previous
    * occupant released on swap ([[swapSnapshot]], the lmScore5gram
    * shape), so repeated bench invocations hold one table each. */
  private def curateSink(
      spark: SparkSession, key: String, survivors: DataFrame): DataFrame = {
    val out = survivors
      .select(col("chunk_uid"), col("id").as("doc_id"), col("chunk_id"),
        col("n_tokens"), col("chunk_text"))
      .orderBy("chunk_uid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.pipeline.StageTimers.timed("sink_mat") { out.count() }
      swapSnapshot(key, out)
    } catch {
      case e: Throwable => out.unpersist(false); throw e
    }
  }

  /** [[curatePipeline]] with a FITTED model composed in through the
    * `extraFilter` hook ([[graft.streaming.CurationConfig.extraFilter]]):
    * a DSIR importance model (target = `lang = 'en'`, 256 buckets) is fit
    * on the full corpus, and batch docs must score a 6-dp-rounded log
    * weight ≥ [[CurateSql.DsirTau]] AFTER the gopher verdict and BEFORE
    * chunking — the model-driven-selection story running inside the
    * composed pipeline, not beside it. The λ table rides inside the
    * filter expression as a plan reference (row-local, replay-pure — the
    * exactly-once contract the hook documents). Standing chunk index =
    * the corpus docs unfiltered (the index predates the model). Oracle
    * [[CurateSql.curatePipelineDsirSql]] replays fit + weights + the
    * whole composition in one statement. */
  def curatePipelineDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val path = standing("curate-dsir", dir)(chunkIndex(docs))
    val model = dsirModel(spark, dir)
    graft.streaming.Curation.curateBatch(spark, path,
      docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"),
      curateCfg.copy(extraFilter = Some(
        round(Dsir.logWeight(model, col("text")), 6)
          >= lit(CurateSql.DsirTau)))) { survivors =>
      curateSink(spark, "curate_pipeline_dsir", survivors)
    }
  }

  private val contamGate = new Fit("contam_gate")((spark, dir) =>
    graft.pipeline.Contamination.fitGate(
      t(spark, dir, "documents").filter(col("source") === "src0"),
      col("text"), n = 5))

  /** [[decontaminate]]'s overlap report computed by the ROW-LOCAL gate
    * ([[graft.pipeline.Contamination.fitGate]] — benchmark gram
    * fingerprints as a plan reference object, no join) instead of the
    * broadcast gram join. SAME oracle as `decontaminate`: the two forms
    * must agree doc for doc, count for count. */
  def decontaminateGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val gate = contamGate(spark, dir)
    docs.filter(col("source") =!= "src0")
      .select(col("doc_id"),
        graft.pipeline.Contamination.overlapCount(col("text"), gate)
          .cast("long").as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .orderBy(col("doc_id"))
  }

  /** [[curatePipeline]] with benchmark DECONTAMINATION composed in through
    * the `extraFilter` hook: batch docs sharing ANY distinct word 5-gram
    * with the benchmark slice (`source = 'src0'`) drop after the gopher
    * verdict and before chunking. The gate is the row-local fingerprint
    * set ([[graft.pipeline.Contamination.fitGate]]) — replay-pure by
    * construction, so the pipeline's exactly-once argument composes
    * unchanged. Own standing index (appends from the other composed
    * queries must not leak into this one's probe base). Oracle
    * [[CurateSql.curatePipelineDecontamSql]]. */
  def curatePipelineDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val path = standing("curate-decon", dir)(chunkIndex(docs))
    val gate = contamGate(spark, dir)
    graft.streaming.Curation.curateBatch(spark, path,
      docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"),
      curateCfg.copy(extraFilter = Some(
        graft.pipeline.Contamination.overlapCount(col("text"), gate) === 0))) {
      survivors => curateSink(spark, "curate_pipeline_decontam", survivors)
    }
  }

  /** [[curatePipeline]] with the TRAINED quality filter composed in
    * through the `extraFilter` hook: the [[graft.pipeline
    * .QualityClassifier]] model (fit on the full corpus with
    * provenance-seeded labels — the same fit as [[qfilterScore]]) gates
    * batch docs at q6 score ≥ [[CurateSql.QfTau]] after the gopher
    * verdict and before chunking. The score is one row-local codegen'd
    * expression with the weights as plan literals — replay-pure by
    * construction, the exactly-once contract the hook documents. Own
    * standing index (appends from other composed queries must not leak
    * into this probe base). Oracle
    * [[CurateSql.curatePipelineQfilterSql]] replays GD training + the
    * whole composition in one statement. */
  def curatePipelineQfilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val path = standing("curate-qf", dir)(chunkIndex(docs))
    val m = qfilterModel(spark, dir)
    val Q = graft.pipeline.QualityClassifier
    graft.streaming.Curation.curateBatch(spark, path,
      docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"),
      curateCfg.copy(extraFilter = Some(
        Q.q(Q.score(Q.features(col("text")), m), 6)
          >= lit(CurateSql.QfTau)))) { survivors =>
      curateSink(spark, "curate_pipeline_qfilter", survivors)
    }
  }

  /** [[curatePipeline]] with the SPAN-CUT stage composed in
    * ([[graft.streaming.Curation.curateBatch]] with `spanIndexPath`): the
    * standing state is the corpus chunk index PLUS a span index over the
    * gopher-passed corpus docs' word 5-grams; batch docs lose every
    * corpus-seen (or batch-repeated) span BEFORE chunking. Oracle
    * [[CurateSql.curatePipelineSpansSql]] replays the full composition in
    * one statement. */
  def curatePipelineSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val (lshPath, spanPath) =
      standing("curate-span", dir)(lshAndSpanIndexes(docs))
    graft.streaming.Curation.curateBatch(spark, lshPath,
      docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"),
      curateCfg.copy(spanIndexPath = Some(spanPath))) { survivors =>
      curateSink(spark, "curate_pipeline_spans", survivors)
    }
  }

  /** The span and full composites' standing state under `root`: the
    * corpus chunk index (`lsh`) plus a span index over the gopher-passed
    * corpus docs' word 5-grams (`span`). */
  private def lshAndSpanIndexes(docs: DataFrame)(root: String): (String, String) = {
    val lsh = chunkIndex(docs)(s"$root/lsh")
    graft.pipeline.SpanIndex.build(
      docs.filter(col("doc_id") % 4 =!= 0).filter(Quality.gopherPasses(
        col("text"), curateCfg.minTokens, curateCfg.maxTokens)),
      col("doc_id"), col("text"), s"$root/span", k = 5)
    (lsh, s"$root/span")
  }

  /** The DSIR importance model (target = `lang = 'en'`, 256 buckets),
    * shared by dsir_weights, dsir_sample and the full curation
    * composite. */
  private val dsirModel = new Fit("dsir")((spark, dir) =>
    Dsir.fit(t(spark, dir, "documents"), col("text"),
      col("lang") === "en", nBuckets = 256))

  /** Named cold-fit triggers for the memoized per-corpus MODELS the
    * bench's untimed warm-up pass otherwise absorbs silently: each thunk
    * forces the corresponding fit (first call per dir pays it; later
    * calls are the memo hit). [[graft.Bench]] runs and times these
    * BEFORE any query so BENCH.json can report what steady-state
    * excludes (`cold_fit_sec`) — bench honesty, not a timed-path change.
    * Index builds (LSH/span/SRP standing state) are not listed: their
    * cold cost is already visible as the composites' first-pass wall. */
  private[graft] def coldFits(
      spark: SparkSession, dir: String): Seq[(String, () => Unit)] =
    fits.toSeq.map(f => f.name -> (() => { f(spark, dir); () }))

  /** THE FULL COMPOSITION — every model-driven stage in one streaming
    * body: batch docs pass gopher, then the `extraFilter` conjunction of
    * (a) fitted DSIR log weight ≥ [[CurateSql.DsirTau]], (b) the
    * benchmark-gram decontamination gate, (c) the trained quality
    * filter at [[CurateSql.QfTau]]; survivors lose every corpus-seen /
    * batch-repeated 5-gram span (standing [[graft.pipeline.SpanIndex]]),
    * chunk, and dedup against the standing chunk index. All three gate
    * models ride the plan as reference objects / literals — row-local,
    * so the pipeline's exactly-once replay argument holds for the whole
    * conjunction. Oracle [[CurateSql.curatePipelineFullSql]] replays
    * DSIR fit + benchmark grams + 30 GD iterations + span cut + LSH in
    * ONE statement. */
  def curatePipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val (lshPath, spanPath) =
      standing("curate-full", dir)(lshAndSpanIndexes(docs))
    val fullModel = dsirModel(spark, dir)
    val gate = contamGate(spark, dir)
    val qf = qfilterModel(spark, dir)
    val Q = graft.pipeline.QualityClassifier
    val allGates =
      (round(Dsir.logWeight(fullModel, col("text")), 6)
        >= lit(CurateSql.DsirTau)) &&
      (graft.pipeline.Contamination.overlapCount(col("text"), gate) === 0) &&
      (Q.q(Q.score(Q.features(col("text")), qf), 6) >= lit(CurateSql.QfTau))
    graft.streaming.Curation.curateBatch(spark, lshPath,
      docs.filter(col("doc_id") % 4 === 0),
      col("doc_id"), col("text"),
      curateCfg.copy(extraFilter = Some(allGates),
        spanIndexPath = Some(spanPath))) { survivors =>
      curateSink(spark, "curate_pipeline_full", survivors)
    }
  }

  /** SimHash near-dup pairs — oracle-exact: the 64-bit sketch and the
    * Hamming band replay in SQL (CORRECTNESS `dedup_simhash`). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(spark, dir, "documents"),
      col("doc_id"), col("text"), maxHamming = 3)

  /** Embedding near-dup pairs via SRP-LSH + exact cosine — oracle-exact:
    * planes, buckets, and cosine replay in SQL (`dedup_embedding`). */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(t(spark, dir, "embeddings"),
      col("vec_id"), col("embedding"), threshold = 0.35, nBits = 4)

  /** Incremental embedding near-dup against a persisted SRP index —
    * [[dedupIncremental]]'s embedding-side sibling: vec_id % 4 != 0 is the
    * standing corpus (indexed once per input dir, memoized), the rest
    * probe against it. Same planes/threshold as [[dedupEmbedding]], so the
    * oracle reuses its inlined-hyperplane SQL with a split tail. */
  def dedupEmbeddingIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val path = standing("srp-idx", dir) { root =>
      SrpIndex.build(emb.filter(col("vec_id") % 4 =!= 0),
        col("vec_id"), col("embedding"), root, nBits = 4)
      root
    }
    SrpIndex.probe(spark, path, emb.filter(col("vec_id") % 4 === 0),
        col("vec_id"), col("embedding"), threshold = 0.35)
      .orderBy(col("batch_id"), col("corpus_id"))
  }

  /** Text statistics: chars, tokens, subwords, punctuation. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      length(col("text")).as("chars"),
      T.tokenCount(col("text")).as("tokens"),
      T.punctCount(col("text")).as("puncts"),
      T.stopwordCount(col("text"), T.EnglishStopwords).as("stopwords"))

  /** Composite quality score in [0,1]. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"), T.qualityScore(col("text")).as("quality"))

  /** The trained quality filter's model: provenance-seeded labels
    * (positives = the curated seed sources src0..src9, the
    * fastText-filter setup), 30 full-batch GD iterations
    * ([[graft.pipeline.QualityClassifier.fit]] — each ONE
    * map-side-combined aggregate). */
  private val qfilterModel = new Fit("qfilter")((spark, dir) =>
    graft.pipeline.QualityClassifier.fit(
      t(spark, dir, "documents"),
      graft.pipeline.QualityClassifier.features(col("text")),
      when(substring(col("source"), 4, 8).cast("int") < 10, 1.0)
        .otherwise(0.0),
      iters = QfilterSql.Iters, lr = 0.5))

  /** The trained weights themselves (one row per feature, 1-based index)
    * — the oracle replays all 30 GD iterations in SQL and must land on
    * bit-identical doubles. */
  def qfilterWeights(spark: SparkSession, dir: String): DataFrame = {
    val m = qfilterModel(spark, dir)
    import spark.implicits._
    m.weights.zipWithIndex
      .map { case (w, i) => (i + 1, w) }.toDF("j", "weight")
      .orderBy(col("j"))
  }

  /** Every document scored by the trained filter — one row-local
    * codegen'd projection, weights as plan literals (no join, no model
    * table); keep = score ≥ 0.5. */
  def qfilterScore(spark: SparkSession, dir: String): DataFrame = {
    val m = qfilterModel(spark, dir)
    val Q = graft.pipeline.QualityClassifier
    val p = Q.q(Q.score(Q.features(col("text")), m), 6)
    t(spark, dir, "documents")
      .select(col("doc_id"), p.as("score"), (p >= 0.5).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Cavnar–Trenkle rank-profile language ID
    * ([[graft.pipeline.LangProfile]]): char-trigram profiles fitted on
    * the labeled corpus (memoized per input dir — fit is one aggregation
    * + a |langs|×300 collect), then every doc classified by the
    * row-local codegen'd out-of-place distance. Oracle [[LangIdSql]]
    * replays fit + classify in one statement. ([[T.langId]], the
    * stopword heuristic this replaced, remains the cheap signal inside
    * [[pipelineClean]].) */
  private val langModel = new Fit("lang")((spark, dir) =>
    graft.pipeline.LangProfile.fit(
      t(spark, dir, "documents"), col("text"), col("lang")))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = langModel(spark, dir)
    docs.select(col("doc_id"),
      graft.pipeline.LangProfile.classify(model, col("text")).as("lang_pred"))
  }

  /** End-to-end cleaning pipeline — the composition a training-data user
    * actually runs over a raw corpus: exact dedup (keep lowest doc_id per
    * text) → quality filter (score >= 0.5) → per-predicted-language corpus
    * rollup (doc count, total tokens, mean quality). Every stage is
    * individually oracle-checked (dedup_exact / quality_score / lang_id);
    * this query checks their COMPOSITION against DuckDB end-to-end. Plan:
    * one corpus scan, one dedup shuffle, one agg shuffle — quality/lang
    * expressions run codegen'd between them. The dedup stage groups by a
    * 128-bit fingerprint of the text (Dedup.exactByFingerprint — FNV-1a ×
    * XXH64, collision-safe past 10¹⁰ documents), so the shuffle carries a
    * 16-byte key instead of sorting document bodies — at 100 TB a window
    * keyed by a multi-KB string is a sort on the corpus itself. The
    * text-keyed Dedup.exact remains the collision cross-check
    * as the standalone dedup_exact query. The mean goes through DECIMAL so
    * aggregation order cannot perturb bits (quality is already 6-dp-rounded
    * per row). */
  def pipelineClean(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByFingerprint(t(spark, dir, "documents"), col("text"), col("doc_id"))
      .withColumn("quality", T.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
      .withColumn("lang_pred", T.langId(col("text")))
      .groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col("text")).cast("long")).as("total_tokens"),
        round((sum(col("quality").cast("decimal(18,6)")) / count(lit(1)))
          .cast("double"), 6).as("avg_quality"))

  /** N-gram repetition ratio — the boilerplate/spam signal LLM pipelines
    * filter on: 1 − distinct-3-grams / total-3-grams over whitespace
    * tokens (0 for documents shorter than one 3-gram). Tokens materialize
    * once in a prior projection so the gram lambda iterates an attribute,
    * not a re-evaluated split. */
  def repRatio(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        when(size(col("toks")) < 3, lit(0.0)).otherwise(
          round(lit(1.0) -
            size(array_distinct(transform(
              sequence(lit(0), size(col("toks")) - 3),
              i => concat_ws(" ",
                element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2),
                element_at(col("toks"), i + 3))))).cast("double") /
            (size(col("toks")) - 2).cast("double"), 6)).as("rep_ratio"))

  /** PII redaction — emails, phone numbers, IPv4 addresses replaced with
    * typed placeholders. Patterns are deliberately RE2-compatible (no
    * lookaround) so the exact transformation is oracle-checkable; codegen'd
    * `regexp_replace` chain, one pass each. */
  def redactPii(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\d{3}[-. ]\\d{3}[-. ]\\d{4}", "<PHONE>"),
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>").as("redacted"))

  /** 64-bit content fingerprints — oracle-exact: the XXH64 chain replays
    * in HUGEINT SQL (`fingerprints`). */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"), T.fingerprint64(col("text")).as("fp"))

  /** BPE-ish subword counting (RE2-compatible match extraction — the
    * DuckDB oracle runs the identical pattern). */
  def subwordCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"), T.subwordCount(col("text")).as("subwords"))

  /** The corpus-trained BPE model: five queries train on identical
    * ([[BpeSql.NumMerges]], [[BpeSql.MaxWords]]) parameters. */
  private val bpeModel = new Fit("bpe")((spark, dir) =>
    graft.pipeline.Bpe.train(t(spark, dir, "documents"), col("text"),
      numMerges = BpeSql.NumMerges, maxWords = BpeSql.MaxWords))

  /** Corpus-trained BPE merge table (rank, lft, rgt): the published
    * frequency-ranked pair-merge loop over the top-256 word types, 32
    * merges — one word-count shuffle plus a bounded driver loop, and the
    * DuckDB oracle replays every round exactly
    * ([[graft.queries.BpeSql.bpeVocabSql]]). */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = bpeModel(spark, dir)
    m.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "lft", "rgt")
  }

  /** Real subword token counts per document: train BPE on the corpus
    * (same parameters as [[bpeVocab]]), then apply the merge chain to
    * every word — a codegen'd replace chain on the scan, no shuffle on
    * the apply side. Output (doc_id, n_words, n_bpe) pins both the
    * whitespace-word and subword budgets. */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val m = bpeModel(spark, dir)
    docs.select(col("doc_id"),
      size(graft.pipeline.Bpe.words(col("text"))).as("n_words"),
      m.tokenCount(col("text")).as("n_bpe"))
  }

  /** [[packSequences]] with the budget denominated in REAL subword
    * tokens: train BPE on the corpus, hand the model's counter to the
    * distributed prefix sum. The whitespace budget under-counts ~1.3–1.7×
    * on English — packing to 512 whitespace tokens overfills model
    * context; this is the corrected pipeline. */
  def packSequencesBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val m = bpeModel(spark, dir)
    graft.pipeline.Pack.packSequences(docs, col("doc_id"), col("text"),
      budget = 512, tokenCount = m.tokenCount)
  }

  /** Model-token-budgeted chunking: train BPE on the corpus, then chunk
    * every document under a REAL-token budget
    * ([[graft.pipeline.Chunking.chunkBpe]] — Pack's greedy rule at word
    * granularity; oracle [[BpeSql.chunkDocsBpeSql]] replays costs and
    * grouping exactly). */
  def chunkDocsBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val m = bpeModel(spark, dir)
    graft.pipeline.Chunking.chunkBpe(docs, col("doc_id"), col("text"), m,
        budget = BpeSql.ChunkBudget)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Per-vector max-abs int8 quantization of the embedding column,
    * exploded to (vec_id, pos, q) integer rows for exact cross-engine
    * comparison. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(
      t(spark, dir, "embeddings"), col("vec_id"), col("embedding"))

  /** Deterministic k-means corpus clustering: k=10, 2 Lloyd iterations,
    * lowest-id seeds, decimal-exact means — bit-reproducible, so the DuckDB
    * oracle unrolls the identical iterations and the (vec_id, cluster)
    * assignment hash-matches. Assignment is a codegen'd literal expression
    * (no join); the update shuffle carries k x dim x tasks partials. */
  def kmeansClusters(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Clustering.kmeans(
      t(spark, dir, "embeddings"), col("vec_id"), col("embedding"), k = 10, iters = 2)

  /** Sequence packing for training: documents in doc_id order are assigned
    * to fixed 512-token training sequences (greedy, never split — see
    * [[graft.pipeline.Pack.packSequences]]). The distributed prefix sum
    * under it is two jobs over ONE shuffle — no global-order window. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Pack.packSequences(
      t(spark, dir, "documents"), col("doc_id"), col("text"), budget = 512)

  /** THE terminal composition — training-shard emission: BPE-budgeted
    * per-shard greedy packing of the xxhash64-shuffled corpus, rolled up
    * into ordered training sequences ([[graft.pipeline.TrainShards]];
    * oracle [[TrainShardsSql]] replays the whole chain in one statement).
    * Output (shard, seq_id, n_docs, seq_tokens, seq_text). */
  def trainShards(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val m = bpeModel(spark, dir)
    graft.pipeline.TrainShards.sequences(docs, col("doc_id"), col("text"),
        budget = TrainShardsSql.Budget,
        numShards = TrainShardsSql.NumShards,
        seed = TrainShardsSql.Seed,
        tokenCount = m.tokenCount)
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Token frequency: top-20 tokens with deterministic tie-break. */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(T.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** Heavy hitters per language via the Space-Saving typed Aggregator —
    * bounded per-group state; with capacity >> distinct items the counts
    * are exact, which is what the oracle checks. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = t(spark, dir, "documents")
      .select(col("lang"), explode(T.tokens(col("text"))).as("token"))
      .as[(String, String)]
    val topk = toks.groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.HeavyHitters(1024).toColumn.name("topk"))
      .toDF("lang", "topk")
    topk.select(col("lang"), posexplode(col("topk")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").as("token"), col("col._2").as("n"))
      .filter(col("rank") <= 10)
  }

  /** Brute-force exact ANN: top-5 cosine neighbors of the first 5 vectors. */
  def annBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.bruteForceTopK(queries, corpus, 5)
      .select(col("qid"), col("neighbor_id"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: per query vector, the
    * top-5 most-similar embeddings with a different label
    * ([[graft.pipeline.Similarity.hardNegatives]]). Exact brute baseline,
    * oracle-checked like ann_brute; the scale path composes the same
    * label predicate with the SRP/IVF candidate tiers. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"),
      col("label"))
    Similarity.hardNegatives(queries, corpus, 5)
      .select(col("qid"), col("neg_id"), col("rank"))
  }

  /** SRP-LSH approximate ANN — oracle-exact (the SQL replays the same
    * plane signs and bucket walk); recall additionally spec-bounded. */
  def annSrp(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.srpTopK(queries, corpus, 5, nBits = 6, probe = 2)
  }

  /** IVF approximate ANN — oracle-exact (the SQL replays the Lloyd fit
    * and probed-cell scan); recall additionally spec-bounded. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    Similarity.ivfTopK(queries, corpus, 5, nCells = 8, nProbe = 3)
  }

  /** Product-quantization ANN ([[graft.pipeline.Pq]]): per-subspace
    * codebooks fit once per corpus, vectors encoded to m=8 4-bit-range
    * codes, top-5 by the ADC scan (per-query LUTs as ONE plan reference
    * object — the scan reads codes, never vectors). Fully oracled:
    * [[PqSql.annPqSql]] replays fit + encode + LUT + ADC in one
    * statement. */
  private val pqModel = new Fit("pq")((spark, dir) =>
    graft.pipeline.Pq.fit(t(spark, dir, "embeddings"),
      col("vec_id"), col("embedding"),
      dim = 64, m = PqSql.M, ksub = PqSql.Ksub, iters = 2))

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val model = pqModel(spark, dir)
    val codes = graft.pipeline.Pq.encode(
      emb, col("vec_id"), col("embedding"), model)
    graft.pipeline.Pq.adcTopK(
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        codes, model, PqSql.TopK)
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-PQ ANN ([[graft.pipeline.IvfPq]] — the IVFADC scheme, Jégou et
    * al. TPAMI 2011 §IV): coarse cells + product-quantized RESIDUALS;
    * each query ADC-scans the codes of its `nProbe` nearest cells only
    * (cell filter BEFORE the projection — a partition prune when codes
    * are cell-partitioned). Fully oracled: [[IvfPqSql.annIvfPqSql]]
    * replays coarse fit + residuals + subspace fit + probe + LUT + ADC
    * in one statement. */
  private val ivfPqModel = new Fit("ivfpq")((spark, dir) =>
    graft.pipeline.IvfPq.fit(t(spark, dir, "embeddings"),
      col("vec_id"), col("embedding"),
      dim = IvfPqSql.Dim, nCells = IvfPqSql.NCells, m = IvfPqSql.M,
      ksub = IvfPqSql.Ksub, iters = 2))

  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val model = ivfPqModel(spark, dir)
    val codes = graft.pipeline.IvfPq.encode(
      emb, col("vec_id"), col("embedding"), model)
    graft.pipeline.IvfPq.adcTopK(
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        codes, model, nProbe = IvfPqSql.NProbe, k = IvfPqSql.TopK)
      .orderBy(col("qid"), col("rank"))
  }

  /** [[annIvfPq]] through the DISTRIBUTED serving path
    * ([[graft.pipeline.IvfPq.adcTopKDistributed]] — no driver
    * round-trip; probe list, LUT and pair-ADC are row-local codegen
    * expressions around one cell join). Same model, same oracle: the
    * arithmetic is the driver path's exactly. */
  def annIvfPqDist(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val model = ivfPqModel(spark, dir)
    val codes = graft.pipeline.IvfPq.encode(
      emb, col("vec_id"), col("embedding"), model)
    graft.pipeline.IvfPq.adcTopKDistributed(
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        codes, model, nProbe = IvfPqSql.NProbe, k = IvfPqSql.TopK)
      .orderBy(col("qid"), col("rank"))
  }

  /** [[annIvfPq]] through the PERSISTED index ([[graft.pipeline
    * .IvfPqIndex]]): build once (model tables + cell-partitioned CODES
    * on disk — the vectors are not stored), then the probe is a
    * partition-directory-pruned scan of 8-byte codes. Same oracle as
    * `ann_ivfpq` — the persisted path must produce the identical
    * ranking. */
  def annIvfPqIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val path = standing("ivfpq-idx", dir) { root =>
      graft.pipeline.IvfPqIndex.build(
        emb, col("vec_id"), col("embedding"), root,
        dim = IvfPqSql.Dim, nCells = IvfPqSql.NCells, m = IvfPqSql.M,
        ksub = IvfPqSql.Ksub, iters = 2)
      root
    }
    graft.pipeline.IvfPqIndex.topK(spark, path,
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        k = IvfPqSql.TopK, nProbe = IvfPqSql.NProbe)
      .orderBy(col("qid"), col("rank"))
  }

  /** Pre-dedup text normalization ([[graft.functions.TextFunctions
    * .normalizeText]]): NFC, control-char strip, whitespace collapse,
    * trim — one codegen'd chain on the scan. Oracle replays it with
    * DuckDB's utf8proc `nfc_normalize` + identical regexes: canonical
    * composition is Unicode-pinned, so the engines agree byte for byte. */
  def normalizeTextQ(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
        col("doc_id"),
        T.normalizeText(col("text")).as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")))
      .orderBy(col("doc_id"))

  /** Blocklist phrases for [[blocklistHits]] — demo-scale; the automaton
    * is built once for ANY list size (10k-entry policy lists scan at the
    * same per-row cost, see [[graft.functions.PhraseFunctions]]). */
  private val BlockPhrases = Seq(
    "agg row scan", "window merge", "slow fast", "the join", "data window")

  /** Multi-phrase blocklist filter (the C4 "bad word list" curation
    * step): per doc, the sorted matched phrases and the block verdict,
    * matched by ONE Aho–Corasick pass per row. Oracle replays the exact
    * contains semantics per phrase. */
  def blocklistHits(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
        col("doc_id"),
        graft.functions.PhraseFunctions.phraseHits(col("text"), BlockPhrases)
          .as("hits"))
      .withColumn("blocked", col("hits") =!= "")
      .orderBy(col("doc_id"))

  /** JSONL round-trip ([[graft.sources.Jsonl]]): documents written as
    * JSONL (Spark's escaping JSON sink), read back with a PINNED schema
    * via the text-scan + `from_json` path (codegen'd parse, no inference
    * pass, quarantine as a row predicate), and projected — only a true
    * parse of every line reproduces the table, which the oracle reads
    * straight from parquet. Corrupt-line quarantine is spec-tested with
    * planted garbage ([[graft.sources.Jsonl.split]]). */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmp = Memo.scratchDir("graft-jsonl")
    graft.sources.Jsonl.write(
      t(spark, dir, "documents").select("doc_id", "text", "lang", "source"),
      s"$tmp/documents.jsonl")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType)))
    val (good, _) = graft.sources.Jsonl.split(
      graft.sources.Jsonl.read(spark, s"$tmp/documents.jsonl", schema))
    good.select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** One-stop corpus health report: per (lang, source) document count,
    * token total, and mean quality score — the rollup a corpus engineer
    * pulls before and after every curation change. One scan + one
    * metadata-keyed aggregation (≤ langs×sources groups).
    *
    * The mean is computed in EXACT integer micro-units: per-row quality is
    * a 6-dp value, so `round(q·10⁶)` is an exact long, the group sum S is
    * exact, and the half-up-rounded mean is `⌊(2S + n) / 2n⌋` — integer
    * arithmetic no engine can disagree on. A DECIMAL-mean formulation
    * (the [[pipelineClean]] recipe) dies on half-ties: this table HAS a
    * group whose exact mean is 0.7884695, which Spark's decimal division
    * rounds half-up and DuckDB's double path rounds down. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("q6",
        round(T.qualityScore(col("text")) * 1e6).cast("long"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(T.tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(col("q6")).as("s6"))
      .withColumn("avg_quality",
        floor((lit(2) * col("s6") + col("n_docs")).cast("double") /
          (lit(2) * col("n_docs")).cast("double")).cast("double") / 1e6)
      .drop("s6")
      .orderBy(col("lang"), col("source"))

  /** Multimodal plumbing: binary payload + typed metadata. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withMeta(t(spark, dir, "documents"),
        col("text").cast("binary"), "text/plain")
      .select(col("doc_id"),
        col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"))

  /** Multimodal decode/resize/sample stubs. Oracle-checked: the stub's
    * xxhash64-derived dimensions and hashInt-derived features are unrolled
    * in exact HUGEINT SQL ([[XxHash64Sql]]). Projects SCALAR columns only
    * (the driver's check sorts the pandas frame; struct/array-of-binary
    * columns are unsortable there). */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    val withBin = Multimodal.withMeta(t(spark, dir, "documents"),
      col("text").cast("binary"), "image/fake")
    val decoded = Multimodal.decodeStub(col("content"))
    val resized = Multimodal.resizeStub(decoded, 256)
    withBin.select(
      col("doc_id"),
      decoded.getField("width").as("width"),
      decoded.getField("height").as("height"),
      resized.getField("width").as("resized_w"),
      resized.getField("height").as("resized_h"),
      round(aggregate(Multimodal.featuresStub(col("content")),
        lit(0.0), (acc, x) => acc + x.cast("double")), 6).as("feat_sum"),
      size(Multimodal.sampleSlices(col("content"), 4, 16)).as("n_slices"))
  }

  /** REAL image decode with a SQL oracle: deterministic PNGs are encoded
    * in-query (`java.awt` + `ImageIO`, partition-local — the corpus has no
    * image bytes, so the query synthesizes them from doc_id-seeded pixels),
    * then decoded back by the real [[Multimodal.ImageDecoder]] via
    * [[Multimodal.decodePartitions]]. The oracle recomputes width/height
    * arithmetically — a pseudo-decode would return hash-derived dimensions
    * and hash-mismatch immediately, so this row proves the SHIPPED decoder
    * reads true codec geometry. Encode and decode are both partition-local:
    * no shuffle, scales with the corpus. */
  def multimodalDecodeReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents").select(col("doc_id").cast("long")).as[Long]
    val png = ids.mapPartitions { it =>
      it.map { id =>
        val w = (id % 7 + 1).toInt
        val h = (id % 5 + 1).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, ((id * 2654435761L + x * 7 + y * 131) & 0xffffff).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("id", "content")
    Multimodal.decodePartitions(png, col("id"), col("content"))
      .toDF()
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("channels").as("bands"))
  }

  /** REAL image resize with a SQL oracle: the same doc_id-seeded PNGs as
    * [[multimodalDecodeReal]] (pixel rgb = (id·2654435761 + x·7 + y·131)
    * & 0xffffff — SQL-replayable), decoded by real ImageIO and resampled
    * by [[Multimodal.resizeNearest]] (integer nearest-neighbor, aspect-fit
    * maxSide 4). The output carries a position-weighted checksum of the
    * RESIZED pixels, and the oracle recomputes it from the source-pixel
    * formula through the same floor arithmetic — only a byte-exact
    * decode → resample chain matches. maxSide 4 against source sides
    * 1..7 covers both the no-op (≤ 4) and downscale paths. */
  def multimodalResizeReal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents").select(col("doc_id").cast("long")).as[Long]
    val png = ids.mapPartitions { it =>
      it.map { id =>
        val w = (id % 7 + 1).toInt
        val h = (id % 5 + 1).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, ((id * 2654435761L + x * 7 + y * 131) & 0xffffff).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("id", "content")
    Multimodal.resizePartitions(png, col("id"), col("content"), maxSide = 4)
      .toDF()
      .select(col("id").as("doc_id"), col("src_w"), col("src_h"),
        col("resized_w"), col("resized_h"), col("checksum"))
  }

  /** Frame/slice sampling over REAL binary payloads with a SQL oracle:
    * deterministic content bytes (byte j = (id + j·7) mod 256, length
    * 64 + id mod 192) are synthesized partition-locally, then
    * [[Multimodal.sampleSlices]] — the byte-range frame-sample analog —
    * cuts 4 evenly-spaced 16-byte slices and each slice is checksummed
    * with the codegen'd [[graft.functions.BinaryFunctions.byteSum]]. The
    * oracle replays slice positions AND the unsigned-byte sums from the
    * content formula — a slicer that was off by one byte anywhere
    * mismatches. Row-local end to end: binary payloads never shuffle. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 4
    val sliceBytes = 16
    val ids = t(spark, dir, "documents").select(col("doc_id").cast("long")).as[Long]
    val bin = ids.mapPartitions { it =>
      it.map { id =>
        val len = (64 + id % 192).toInt
        val b = new Array[Byte](len)
        var j = 0
        while (j < len) { b(j) = ((id + j * 7) % 256).toByte; j += 1 }
        (id, b)
      }
    }.toDF("id", "content")
    bin
      .select(col("id").as("doc_id"), col("content"),
        posexplode(Multimodal.sampleSlices(col("content"), n, sliceBytes)))
      .select(col("doc_id"), col("pos").cast("int").as("slice_idx"),
        ((col("pos") * greatest(length(col("content")) - sliceBytes, lit(1))
          / lit(n - 1)) + 1).cast("int").as("start_pos"),
        length(col("col")).as("slice_len"),
        graft.functions.BinaryFunctions.byteSum(col("col")).as("byte_sum"))
  }

  /** REAL video container parse with a SQL oracle: deterministic
    * headers-only MP4s are synthesized in-query
    * ([[Multimodal.Mp4Synth]] — real ftyp/moov/mvhd/trak/stsd boxes,
    * brand/timescale/duration/codecs from doc_id arithmetic), then parsed
    * back by the real [[Multimodal.VideoDecoder]] box walker. The oracle
    * replays the synthesis arithmetic — only a true ISO-BMFF parse
    * reproduces every column. Odd doc_ids emit the 64-bit version-1 mvhd
    * layout so both parser paths are oracle-covered. Partition-local both
    * ways: no shuffle. */
  def multimodalDecodeVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brands = Seq("isom", "mp42", "3gp4")
    val codecNames = Seq("avc1", "hvc1", "mp4a")
    val ids = t(spark, dir, "documents").select(col("doc_id").cast("long")).as[Long]
    val mp4 = ids.mapPartitions { it =>
      it.map { id =>
        val nTracks = (1 + id % 3).toInt
        val codecs = (0 until nTracks).map(t => codecNames(((id + t) % 3).toInt))
        (id, Multimodal.Mp4Synth.bytes(
          brand = brands((id % 3).toInt),
          timescale = (600 + (id % 4) * 300).toInt,
          duration = 1000 + id % 5000,
          codecs = codecs,
          mvhdV1 = id % 2 == 1,
          width = (320 + (id % 5) * 160).toInt,
          height = (180 + (id % 5) * 90).toInt))
      }
    }.toDF("id", "content")
    Multimodal.decodeVideoPartitions(mp4, col("id"), col("content"))
      .toDF()
      .select(col("id").as("doc_id"), col("brand"), col("timescale"),
        col("duration_ms"), col("n_tracks"), col("width"), col("height"),
        col("codecs"))
  }

  /** REAL audio decode with a SQL oracle: deterministic 16-bit PCM WAVs are
    * encoded in-query (`javax.sound.sampled`, partition-local — the corpus
    * has no audio bytes, so the query synthesizes rate/channels/frames and
    * samples from doc_id arithmetic), then decoded back by the real
    * [[Multimodal.AudioDecoder]]. The oracle replays the synthesis
    * arithmetic — only a true container parse (header rate/channels/frame
    * count) plus an exact little-endian PCM read reproduces every column.
    * Encode and decode are both partition-local: no shuffle. */
  def multimodalDecodeAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents").select(col("doc_id").cast("long")).as[Long]
    val wav = ids.mapPartitions { it =>
      it.map { id =>
        val rate = 8000 + (id % 3).toInt * 4000
        val ch = (id % 2 + 1).toInt
        val frames = 50 + (id % 151).toInt
        val n = frames * ch
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = (((id * 2654435761L + i.toLong * 104729L) % 65536L) - 32768L).toInt
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, ch, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        (id, bos.toByteArray)
      }
    }.toDF("id", "content")
    Multimodal.decodeAudioPartitions(wav, col("id"), col("content"))
      .toDF()
      .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
        col("n_frames"), col("duration_ms"), col("amp_sum"), col("sq_sum"))
  }

  /** Kafka-style log compaction through the REAL storage path: ingest the
    * events table into an on-disk topic keyed by user_id (murmur2 routing),
    * run [[graft.core.log.LogRetention.compact]] (file rewrite + one-swap
    * index replace), then scan the survivors. Keyed routing puts all of a
    * key's records in one partition with offsets in ord (= event_id) order,
    * so the surviving record per key is its max event_id — which the oracle
    * recomputes with a plain argmax, independent of the hash routing.
    * The ingest + compact build is deterministic, so it runs once per input
    * dir (memoized); every call returns a fresh scan of the compacted
    * topic. */
  def compactTopic(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.catalog.{TopicCatalog, Warehouse}
    import graft.core.log.{LogReader, LogRetention}
    val wh = standing("compact-q", dir) { root =>
      val w = Warehouse(root)
      TopicCatalog.createTopic(spark, w, "ev", 4)
      // the log schema persists (key, value) — event_id rides in value
      LogWriter.append(spark, w, "ev",
        events(spark, dir).select(col("event_id"),
          col("user_id").cast("string").as("key"),
          col("event_id").cast("string").as("value")),
        "event_id")
      LogRetention.compact(spark, w, "ev")
      w
    }
    LogReader.scan(spark, wh, "ev")
      .select(col("key").cast("long").as("user_id"),
        col("value").cast("long").as("event_id"))
      .orderBy(col("user_id"))
  }

  /** Duplicate CLUSTERS from near-dup pairs: the exact word-3-gram Jaccard
    * pairs (same parameters as dedup_ngram_jaccard, so the edge list itself
    * is oracle-verified) fed through distributed connected components. Output
    * is (doc_id, cluster_id = smallest reachable doc_id) for every doc in
    * any pair — the table a keep-one-per-cluster dedup policy filters on.
    * The DuckDB oracle recomputes components by recursive transitive
    * closure, so the log-round label propagation is checked against an
    * independent fixpoint formulation. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(t(spark, dir, "documents"),
      col("doc_id"), col("text"), shingleSize = 3, threshold = 0.8,
      shingler = T.wordShingles)
    Graphs.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Keep-one-per-cluster dedup: drop every doc that is in a duplicate
    * cluster but is not its (min-id) representative. Cluster-based keeping
    * is strictly safer than pair-greedy: a chain a~b~c keeps exactly one
    * doc instead of whatever pair order happens to survive. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs,
      col("doc_id"), col("text"), shingleSize = 3, threshold = 0.8,
      shingler = T.wordShingles)
    val losers = Graphs.connectedComponents(pairs)
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("__loser"))
    docs.join(losers, col("doc_id") === col("__loser"), "left_anti")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination report: docs from sources src1..N that share
    * ≥ 1 distinct word 5-gram with the held-out "benchmark" source src0,
    * with the count of distinct shared grams. Corpus-side scan is never
    * shuffled; the benchmark gram set broadcasts. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Contamination.overlapReport(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"), col("text"), n = 5)
      .select(col("id").as("doc_id"), col("n_overlap"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified sample: per-language keep rates applied via a
    * MINSTD hash of doc_id — reproducible across runs and engines (the
    * oracle applies the identical arithmetic in SQL). */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(spark, dir, "documents"),
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.75))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  /** Per-source document cap (10 per source), hash-order selection — the
    * per-domain cap of [[graft.pipeline.Sampling.capPerStratum]]; the
    * oracle replays the integer Lehmer chain and rank in exact SQL. */
  def capPerSource(spark: SparkSession, dir: String): DataFrame =
    Sampling.capPerStratum(t(spark, dir, "documents"),
        col("doc_id"), col("source"), n = 10)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Deterministic global shuffle into 64 shards: shard + dense in-shard
    * position from seeded xxhash64 of doc_id — one hash shuffle, per-shard
    * sorts, no global order. The oracle replays Spark's XXH64 hashLong
    * chain bit-for-bit in HUGEINT SQL. */
  def shuffleShards(spark: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShards(t(spark, dir, "documents"),
        col("doc_id"), numShards = 64, seed = 7L)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  /** DSIR importance weights [Xie et al. 2023]: per-document
    * log p_target − log p_raw in a 256-bucket hashed unigram+bigram
    * feature space, target = the English subcorpus. Fit is one
    * map-side-combined aggregation (≤256 rows to the driver); scoring is
    * a row-local codegen'd fold with the λ table as a plan reference
    * object — at 100 TB the weight pass is one scan, no shuffle. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = dsirModel(spark, dir)
    docs.select(col("doc_id"), col("lang"),
        round(Dsir.logWeight(model, col("text")), 6).as("logw"))
      .orderBy(col("doc_id"))
  }

  /** DSIR Gumbel top-50 resample: log-weight + deterministic per-id Gumbel
    * noise (MINSTD hash unit), ranked at 6 dp with id tie-break —
    * TakeOrdered, never a global sort. The oracle replays the whole chain
    * (FNV buckets, smoothed λ, Lehmer noise) in exact SQL. */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = dsirModel(spark, dir)
    Dsir.resample(docs, col("doc_id"), col("text"), model, k = 50)
      .select(col("doc_id"), col("lang"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Cluster-balanced diversity sample: k-means regions (the exact
    * kmeans_clusters trainer) capped at 12 rows each by Lehmer hash order
    * ([[graft.pipeline.Sampling.diverseSample]]) — the oracle nests the
    * kmeans replay and applies the cap_per_source rank SQL on cluster. */
  def sampleDiverse(spark: SparkSession, dir: String): DataFrame =
    Sampling.diverseSample(t(spark, dir, "embeddings"),
        col("vec_id"), col("embedding"), k = 10, iters = 2, perCluster = 12)
      .orderBy(col("vec_id"))

  /** Corpus mixture plan: per-language sampling rates that hit a 50k-token
    * budget at target weights — one metadata-scale aggregation. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixturePlan(t(spark, dir, "documents"),
        col("lang"), T.tokenCount(col("text")),
        Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1),
        budget = 50000L)
      .orderBy(col("stratum"))

  /** Temperature-flattened mixture plan (α = 0.3, the published XLM-R
    * multilingual setting): per-language token share p^α-renormalized,
    * with the sampling rate meeting a 50k-token budget
    * ([[graft.pipeline.Sampling.temperaturePlan]]). */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperaturePlan(t(spark, dir, "documents"),
        col("lang"), T.tokenCount(col("text")),
        alpha = 0.3, budget = 50000L)
      .orderBy(col("stratum"))

  /** Unigram language-model quality score (the CCNet-style filter signal):
    * train a unigram model on the corpus itself (one agg), then score each
    * doc by mean negative log-probability of its tokens — low = fluent
    * under the corpus distribution, high = outlier/noise. Two shuffles
    * total (model agg + per-doc agg); the model BROADCASTS back onto the
    * token stream — vocab is metadata-scale after the agg, and a shuffle
    * join on the raw `term` key would funnel ~10% of all tokens through
    * the "the" partition (Zipf skew) at 100 TB. Rounded to 6dp with doc_id
    * ordering, fully SQL-expressible. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val terms = docs.select(col("doc_id"),
        explode(T.tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
    val total = terms.count().toDouble
    val model = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    // per-token nll summed through DECIMAL so aggregation order cannot
    // perturb low bits (the oracle sums in a different order)
    terms.join(broadcast(model), Seq("term"))
      .withColumn("nll1",
        (-log(col("cnt").cast("double") / total)).cast("decimal(28,18)"))
      .groupBy("doc_id")
      .agg(round(sum(col("nll1")).cast("double") /
        count(lit(1)).cast("double"), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing [Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC 2020,
    * arXiv:1911.00359]: split each language's documents into head /
    * middle / tail by LM-score terciles — the standard crawl-corpus
    * stratification (train on head+middle, drop or down-weight tail).
    * Reuses [[lmScore]]'s unigram NLL; per-language tercile thresholds
    * are a 2-quantile aggregation over the 6-dp-rounded scores (5 langs ×
    * 2 doubles = metadata, broadcast back; boundary decisions compare
    * ROUNDED score to ROUNDED threshold with `<=` so any two engines
    * agree). Exact `percentile` is demo-scale for oracle parity — at
    * 100 TB CCNet itself fits thresholds on a sample, and the plan shape
    * (thresholds broadcast onto the scoring scan) is unchanged under
    * `approx_percentile` or sampled fits. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val scored = lmScore(spark, dir)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val th = scored.groupBy("lang").agg(
      round(expr("percentile(nll, 0.33333)"), 6).as("p33"),
      round(expr("percentile(nll, 0.66667)"), 6).as("p67"))
    scored.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("nll"),
        when(col("nll") <= col("p33"), "head")
          .when(col("nll") <= col("p67"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model quality score — the order-2 step toward
    * CCNet's 5-gram LM filter [Wenzek et al. 2020]: per doc, mean
    * −ln P(wᵢ | wᵢ₋₁) under an add-one-smoothed bigram model trained on
    * the corpus itself. Two model aggregations (unigram + bigram counts,
    * map-side combined), both BROADCAST back onto the bigram stream —
    * after aggregation the model is metadata-scale, and a shuffle join on
    * raw bigram keys would funnel the Zipf head through single partitions
    * (the [[lmScore]] skew argument, order 2). At web scale the bigram
    * table is count-pruned with backoff — same plan shape, smaller
    * broadcast. Docs with < 2 tokens score 0 with n_bigrams 0. */
  def lmScoreBigram(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
        explode(T.tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
    val uni = toks.groupBy("term").agg(count(lit(1)).as("cu"))
    val v = uni.count().toDouble
    val bgs = docs.select(col("doc_id"),
      explode(T.wordBigrams(lower(col("text")))).as("bg"))
    val bi = bgs.groupBy("bg").agg(count(lit(1)).as("cb"))
    val scored = bgs
      .join(broadcast(bi), Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(broadcast(uni.withColumnRenamed("term", "w1")), Seq("w1"))
      .withColumn("nll1",
        (-log((col("cb").cast("double") + 1.0) /
          (col("cu").cast("double") + v))).cast("decimal(28,18)"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(col("nll1")).cast("double") /
          count(lit(1)).cast("double"), 6).as("nll2"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll2"), lit(0.0)).as("nll2"))
      .orderBy(col("doc_id"))
  }

  /** One persisted snapshot per query name, previous occupant unpersisted
    * on swap — bounds the block-manager footprint of queries that must
    * hand the harness an already-materialized frame at 1 table/name no
    * matter how many times the bench re-invokes them. */
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def swapSnapshot(key: String, df: DataFrame): DataFrame = {
    val prev = snapshots.put(key, df)
    // CacheManager keys on the canonicalized plan: a re-invocation builds
    // an equal plan whose cache entry the new frame shares — unpersisting
    // it would evict the snapshot we just handed out
    if (prev != null && (prev ne df) &&
        !prev.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
      prev.unpersist(false)
    df
  }

  /** Order-5 stupid-backoff LM quality score with count pruning — the
    * CCNet-order filter itself ([[graft.pipeline.Quality.lmScoreStupidBackoff]];
    * [[lmScoreBigram]] is its order-2 on-ramp). Oracle [[LmSql]] replays
    * the pruned tables and the backoff CASE bit-for-bit.
    *
    * The count tables persist only for the duration of this call: the
    * scored output is materialized here (one count() with the tables
    * hot), the tables are unpersisted in the finally, and the harness
    * reads the persisted output snapshot (swapped per call — see
    * [[swapSnapshot]]). */
  def lmScore5gram(spark: SparkSession, dir: String): DataFrame = {
    val lm = graft.pipeline.Quality.lmScoreStupidBackoff(
      t(spark, dir, "documents"), col("doc_id"), col("text"),
      n = LmSql.N, minCount = LmSql.MinCount, alpha = LmSql.Alpha)
    try {
      val out = lm.scores.orderBy(col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // if materialization or the swap throws, release the snapshot we
      // just pinned — otherwise it leaks in the block manager for the
      // JVM lifetime (only a completed swap hands ownership to snapshots)
      try {
        out.count()
        swapSnapshot("lm_score_5gram", out)
      } catch {
        case e: Throwable => out.unpersist(false); throw e
      }
    } finally lm.unpersist()
  }

  /** CCNet perplexity terciles RE-BASED on the order-5 stupid-backoff
    * score ([[pplBuckets]]'s bucketing over [[lmScore5gram]]'s nll) —
    * docs with ≥ 1 scoring position bucket per-lang head/middle/tail. */
  def pplBuckets5gram(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val scored = lmScore5gram(spark, dir).filter(col("n_grams") > 0)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val th = scored.groupBy("lang").agg(
      round(expr("percentile(nll, 0.33333)"), 6).as("p33"),
      round(expr("percentile(nll, 0.66667)"), 6).as("p67"))
    scored.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("nll"),
        when(col("nll") <= col("p33"), "head")
          .when(col("nll") <= col("p67"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Z-order (Morton) key of (l_orderkey, l_partkey) folded to 8 bits each
    * — the clustering key for 2-D file skipping (see
    * [[graft.pipeline.Layout.zorderBy]]; layout benefit is spec-asserted,
    * this query oracles the interleave arithmetic bit-for-bit). */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{ZOrderFunctions => Z}
    t(spark, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      Z.zvalue(pmod(col("l_orderkey"), lit(256)),
        pmod(col("l_partkey"), lit(256)), 8).as("zkey"))
  }

  /** BM25 retrieval: top-10 documents for a fixed 3-term query (k1 = 1.2,
    * b = 0.75, Robertson-Sparck Jones idf with the +1 floor as in Lucene).
    * Corpus stats (N, avgdl) are metadata-scale aggregates; per-term df
    * joins broadcast (a query has a handful of terms); the final top-k is
    * TakeOrderedAndProject — per-partition partial top-k, no global sort
    * shuffle. Scores round to 6dp before ranking, doc_id breaks ties. */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("data", "spark", "query")
    // constants appear as the same literals in the oracle SQL — a computed
    // k1+1 can land on a different double than the literal 2.2
    val docs = t(spark, dir, "documents")
    val stats = docs.agg(
      count(lit(1)).as("n"),
      avg(T.tokenCount(col("text")).cast("double")).as("avgdl")).head()
    val n = stats.getLong(0).toDouble
    val avgdl = stats.getDouble(1)
    val terms = docs.select(col("doc_id"),
        T.tokenCount(col("text")).cast("double").as("dl"),
        explode(T.tokens(lower(col("text")))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    tf.join(broadcast(docFreq), Seq("term"))
      .withColumn("part", idf * (col("tf") * 2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)))
      .groupBy("doc_id")
      .agg(round(sum(col("part")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** TF-IDF top-3 terms per document (whitespace tokens of lowercased text,
    * natural-log IDF, rank ties broken by term). Corpus size is a
    * metadata-scale count; tf and df are two hash-agg shuffles over the
    * exploded term list; the df side then BROADCASTS onto tf (vocab is
    * metadata-scale after its agg; a shuffle join on the Zipf-skewed term
    * key would hot-spot on stopwords at 100 TB — same shape as
    * bm25_search); ranking is one window partitioned by doc_id —
    * partition-parallel, no global window. Scores are rounded BEFORE
    * ranking so the Spark and DuckDB orderings see identical keys. */
  def tfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val total = docs.count().toDouble
    val terms = docs.select(col("doc_id"),
        explode(T.tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // NOTE (r18): df-from-tf (`tf.groupBy("term").count()`) was tried —
    // it shares tf's exchange via stage reuse and halves the CPU — but
    // REVERTED on 32× evidence: the broadcast side then DEPENDS on tf's
    // exchange, serializing the critical path that the two independent
    // branches previously overlapped on idle cores (measured growth
    // 7.8 → 16-27 at 32×). Redundant parallel compute is the right trade
    // here; the shuffled volume is the distinct (doc_id, term) pairs
    // either way.
    val docFreq = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(docFreq), Seq("term"))
      .withColumn("score", round(col("tf") * log(lit(total) / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("int").as("rank"),
        col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Token-budget document chunking (64-token chunks, 16-token overlap) —
    * the pre-tokenization unit split for training and retrieval indexing.
    * Pure per-row explode on the scan ([[graft.pipeline.Chunking]]): no
    * shuffle; the presentation sort is the only exchange. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    Chunking.chunkTokens(t(spark, dir, "documents"),
        col("doc_id"), col("text"), chunkSize = 64, overlap = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Gopher-style document quality rules ([[graft.pipeline.Quality]]) —
    * the published heuristic filter set. The library ships the PUBLISHED
    * thresholds (50–100,000 words); this corpus's documents are 10–99
    * tokens, so the token band is overridden EXPLICITLY here to [30, 90]
    * — the other thresholds (mean word length [3, 10], ≥ 80% alphabetic,
    * ≥ 2 distinct stopwords) are the published values. Row-local
    * codegen'd pass; the presentation sort is the only exchange. */
  def gopherFilters(spark: SparkSession, dir: String): DataFrame =
    Quality.gopherSignals(t(spark, dir, "documents"),
        col("doc_id"), col("text"), minTokens = 30, maxTokens = 90)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
}
