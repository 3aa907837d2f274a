package graft.core.log

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, BindReferences, BoundReference, Expression, GenericInternalRow,
  InterpretedOrdering, JoinedRow, Literal, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.core._
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.routing.PartitionRouter

/** Result of one append: per-partition assigned offset ranges. */
case class AppendResult(
    topic: String,
    batchId: Option[Long],
    ranges: Map[Int, (Long, Long)], // partition -> (baseOffset, endOffset) inclusive
    records: Long)

/** The produce path: route → assign dense per-partition offsets → append
  * Parquet segments → index.
  *
  * Re-expresses the reference's broker ingest chain
  * (reference: src/main/java/server/internal/Broker.java:401-419 →
  * commons/utils/PartitionWriteManager.java:33-84 →
  * server/internal/storage/Log.java:93-103 → LogSegment.java:135-239):
  *
  *   - The per-partition fair lock + AtomicInteger offset counter becomes a
  *     range exchange on `(partition, ord)` plus a two-pass count /
  *     prefix-sum / number scheme ([[assignOffsets]]) seeded from the
  *     per-partition max offset in the index — dense per-partition numbering
  *     WITHOUT funneling any partition through a single task.
  *   - Segment files + 512 KiB flush buffers become immutable Parquet files;
  *     sizing via `maxRecordsPerFile` replaces the 1 MiB roll threshold.
  *   - The offset→byte index (IndexEntries.java:17-53) becomes a per-FILE
  *     offset-range table; Parquet row-group stats (tight, because each file
  *     is sorted by offset) do the intra-file seeking.
  *
  * Two paths route, number and write a batch, chosen by the input plan's
  * shape alone. When the input is local — its analyzed plan, or else its
  * optimized plan, is a `LocalRelation`: the rows are already in driver
  * memory, as a producer's batch is — the driver path routes them with one
  * generated projection (no optimizer pass over the routed plan) and
  * sorts, numbers and writes them with no Spark job, like the reference
  * broker appending a batch to its local segment (Log.java:93-103); four
  * jobs of per-job overhead would otherwise dominate a small batch. Every
  * other frame takes the Spark path, [[assignOffsets]] plus one job whose
  * tasks write their offset runs, so a distributed frame is never
  * collected. Both paths evaluate the one routing definition
  * ([[PartitionRouter.route]]) and write each file once, at its final
  * `partition=<p>/` path, through one [[SegmentWriter]], which creates
  * files through `java.nio` and so forks no `chmod`.
  *
  * Readers only see files through the index, and the index row is written
  * after the data, so the index delta is the commit: a crashed append
  * leaves unindexed files that are never read, and a replayed `batchId` is
  * skipped — that is the exactly-once contract for `foreachBatch` ingestion
  * (SURVEY.md §7.4.2).
  *
  * Commit cost is independent of topic size: the writer returns each file's
  * index row, so nothing lists, renames or re-reads a file. The index delta
  * is one small file per append, and the topic's index auto-compacts past
  * [[LogWriter.MaxIndexFiles]] deltas, so the driver-side index reload
  * stays bounded at millions of segments.
  *
  * Cross-job writes are serialized per (topic, partition) with warehouse
  * lock files ([[graft.core.Locks]]), matching the reference's
  * per-partition write unit: appends to different topics — or to disjoint
  * DECLARED partition sets of one topic — proceed fully in parallel, while
  * topic-wide mutations (retention/compaction/delete) take every
  * partition's lock.
  */
object LogWriter {

  /** Route records and assign dense, gapless per-partition offsets starting
    * from the given bases — the pure transform at the core of the produce
    * path, exposed separately so it can be verified against a SQL oracle
    * without touching disk.
    *
    * NOT a `row_number()` window: `Window.partitionBy(partition)` funnels
    * each topic-partition through one task — and when a caller pins
    * `explicit_partition = lit(p)`, Catalyst constant-folds the routed
    * column, the window's partition spec collapses to EMPTY, and the entire
    * batch serializes through a single task ("WindowExec: No Partition
    * Defined") — a scale-killer on the one path built for parallel ingest.
    * Instead this numbers in two metadata-scale passes over ONE range
    * exchange:
    *
    *   1. `repartitionByRange(partition, ord)` + per-task sort puts every
    *      task in charge of a contiguous (partition, ord) range — a single
    *      partition's multi-GB batch spreads across MANY tasks (AQE
    *      coalesces the range partitions for small batches).
    *   2. A count job collects per-task per-partition run lengths (one tiny
    *      tuple per task); the driver prefix-sums them into per-task base
    *      offsets (O(tasks × partitions-per-task), metadata-scale).
    *   3. A numbering pass re-reads the SAME shuffle output (same RDD
    *      lineage, so the exchange stage is skipped, not recomputed) and
    *      stamps `base + local index` per row.
    *
    * The result is exactly the window semantics — dense offsets in `ord`
    * order per partition — with no single-task funnel anywhere. The returned
    * frame is eagerly numbered (the count pass runs at call time), and a
    * record that routes to no partition fails that pass with an
    * `IllegalArgumentException`.
    *
    * @param df      input records
    * @param explicitPartition explicit-partition column (null when absent)
    * @param key     routing key column (null when absent)
    * @param ord     total-order column fixing intra-partition arrival order
    *                (the reference serializes arrival with a lock; a
    *                distributed engine needs the order to be data-derived)
    * @param numPartitions topic partition count
    * @param bases   partition -> next offset to assign (default all 0)
    * @param parallelism fixed range-task count (tests); None = session
    *                shuffle partitions with AQE coalescing
    */
  def assignOffsets(
      df: DataFrame,
      explicitPartition: Column,
      key: Column,
      ord: Column,
      numPartitions: Int,
      bases: Map[Int, Long] = Map.empty,
      parallelism: Option[Int] = None): DataFrame =
    numberRuns(df, explicitPartition, key, ord, numPartitions, bases, parallelism)._2

  /** [[assignOffsets]] plus the count pass's per-task (partition, rows)
    * runs, which tell [[append]] every partition the batch routes to
    * before anything is written. */
  private def numberRuns(
      df: DataFrame,
      explicitPartition: Column,
      key: Column,
      ord: Column,
      numPartitions: Int,
      bases: Map[Int, Long],
      parallelism: Option[Int]): (Array[Array[(Int, Long)]], DataFrame) = {
    val spark = df.sparkSession
    val routed = df.withColumn(
      "partition",
      PartitionRouter.route(explicitPartition, key, ord, numPartitions))
    val sorted = (parallelism match {
      case Some(k) => routed.repartitionByRange(k, col("partition"), ord)
      case None => routed.repartitionByRange(col("partition"), ord)
    }).sortWithinPartitions(col("partition"), ord)
    val schema = sorted.schema
    val pIdx = schema.fieldIndex("partition")
    // One lineage over the UNSAFE rows (queryExecution.toRdd): numbering
    // reuses the count job's shuffle AND neither pass pays the external-Row
    // decode — `.rdd` would deserialize every column of every record twice
    // (count + number) and re-encode once, which showed up as ~15% of the
    // whole produce path at bench scale.
    val rdd = sorted.queryExecution.toRdd
    val counts: Array[Array[(Int, Long)]] = rdd
      .mapPartitionsWithIndex { (i, it) =>
        // rows arrive grouped by partition (per-task sort) — count the runs
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        var cur = Int.MinValue
        var c = 0L
        it.foreach { r =>
          // a null route (no key, no in-range explicit partition, null
          // ord) counts as partition -1; `getInt` would read it as 0
          val p = if (r.isNullAt(pIdx)) -1 else r.getInt(pIdx)
          if (p != cur) { if (c > 0) runs += ((cur, c)); cur = p; c = 0L }
          c += 1
        }
        if (c > 0) runs += ((cur, c))
        Iterator((i, runs.toArray))
      }
      .collect().sortBy(_._1).map(_._2)
    if (counts.exists(_.exists(_._1 < 0))) throw nullRoute(ord.toString)
    val running = scala.collection.mutable.Map.empty[Int, Long]
    bases.foreach { case (p, b) => running(p) = b }
    val starts: Array[Map[Int, Long]] = counts.map { runs =>
      runs.map { case (p, c) =>
        val s = running.getOrElse(p, 0L)
        running(p) = s + c
        p -> s
      }.toMap
    }
    val bStarts = spark.sparkContext.broadcast(starts)
    val outSchema = schema.add("offset", org.apache.spark.sql.types.LongType,
      nullable = false)
    val numbered = rdd.mapPartitionsWithIndex { (i, it) =>
      import org.apache.spark.sql.catalyst.expressions.{
        GenericInternalRow, JoinedRow, UnsafeProjection}
      val next = scala.collection.mutable.Map.empty[Int, Long]
      bStarts.value(i).foreach { case (p, s) => next(p) = s }
      // append `offset` with an unsafe projection over (row ++ [offset]) —
      // no per-row Seq/Row allocation; the projection's reused buffer is
      // safe for the immediate narrow consumer (Spark operators copy where
      // buffering requires it)
      val proj = UnsafeProjection.create(outSchema)
      val extra = new GenericInternalRow(1)
      val joined = new JoinedRow()
      it.map { r =>
        val p = r.getInt(pIdx)
        val o = next(p)
        next(p) = o + 1
        extra.update(0, o)
        proj(joined(r, extra)): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    (counts, org.apache.spark.sql.GraftInternal.internalCreateDataFrame(
      spark, numbered, outSchema))
  }

  /** Append a batch of records to a topic's log.
    *
    * Input columns: `ts` (long millis), `key` (string, nullable), `value`
    * (string), optional `headers`, optional `explicit_partition` (int), and
    * an ordering column named by `ordCol`.
    *
    * When the input is local — its analyzed plan is a `LocalRelation` (a
    * `createDataFrame` of driver-side rows), or else its plan has only
    * local leaves and its optimized plan is one (a `toDF`, filter or
    * `withColumn` over such rows) — its rows are projected once to
    * (partition, ord, ts, key, value, headers) by a generated projection
    * ([[routeLocal]]; no optimizer pass over the routed plan, and no class
    * compiled per steady append), then sorted by `ord` with Spark's
    * ordering, numbered and written on the driver with no Spark job
    * ([[writeLocal]]). Any other plan — a parquet scan, `spark.range`, a
    * join, a union — takes [[assignOffsets]] and one job whose tasks write
    * their offset runs; a plan with a non-local leaf goes there without
    * being optimized twice. Either way the
    * [[SegmentWriter]] writes each file once at its final path and returns
    * its index row, and the index delta commits them. A record that routes
    * to no partition (no key, no in-range explicit partition and a null
    * ord) fails the append with an `IllegalArgumentException` before
    * anything is written.
    *
    * @param partitions when given, the append declares it only writes these
    *                   partitions and takes ONLY those partitions' locks —
    *                   appends from different jobs into disjoint partitions
    *                   of one topic run concurrently, the reference's
    *                   per-partition write parallelism
    *                   (PartitionWriteManager.java:33-84). Enforcement is on
    *                   the ROUTED outcome: any record that routes outside
    *                   the declared set aborts the append before anything
    *                   is written (callers normally pin routing with
    *                   `explicit_partition`; a record without it whose hash
    *                   route happens to land inside the set is accepted).
    *                   When absent the append routes freely and holds every
    *                   partition lock.
    */
  def append(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      records: DataFrame,
      ordCol: String,
      batchId: Option[Long] = None,
      conf: ProducerConfig = ProducerConfig(),
      partitions: Option[Seq[Int]] = None): AppendResult = {
    val n = TopicCatalog.numPartitions(spark, wh, topic)
    val locked: Seq[Int] = partitions match {
      case Some(ps) =>
        require(ps.nonEmpty, "declared partition set must be non-empty")
        require(ps.forall(p => p >= 0 && p < n),
          s"declared partitions ${ps.mkString(",")} outside [0, $n)")
        ps.distinct.sorted
      case None => 0 until n
    }
    val result = graft.core.Locks.withPartitionLocks(wh, topic, locked) {
      batchId.foreach { id =>
        // replay check against the cached driver-side index: no Spark job
        // on every streaming micro-batch
        if (LogIndex.hasBatch(spark, wh, topic, id, partitions))
          return AppendResult(topic, batchId, Map.empty, 0L)
      }
      val bases = LogIndex.nextOffsets(spark, wh, topic)
      val explicitP =
        if (records.columns.contains("explicit_partition")) col("explicit_partition")
        else lit(null).cast("int")
      val keyCol =
        if (records.columns.contains("key")) col("key") else lit(null).cast("string")
      // the stored columns after (partition, ord) or (partition, offset)
      val now = System.currentTimeMillis()
      val stored = Seq(
        (if (records.columns.contains("ts")) col("ts").cast("long") else lit(now)).as("ts"),
        keyCol.cast("string").as("key"),
        col("value").cast("string").as("value"),
        (if (records.columns.contains("headers")) col("headers")
         else lit(null).cast(Schemas.headers)).as("headers"))

      val logDir = wh.logDir(topic)
      // a declared-partition append must not route anything outside its
      // locked set; rejected before anything is written
      def checkDeclared(routedTo: Iterable[Int]): Unit = partitions.foreach { _ =>
        val stray = routedTo.toSeq.distinct.filterNot(locked.contains).map(p => s"partition=$p")
        if (stray.nonEmpty) throw new IllegalArgumentException(
          s"records routed to ${stray.sorted.mkString(",")} outside " +
            s"the declared partition set ${locked.mkString(",")} — nothing was committed")
      }
      val local = localRows(records).flatMap { rows =>
        routeLocal(records.select(
          PartitionRouter.route(explicitP, keyCol, col(ordCol), n).as("partition") +:
            col(ordCol).as("ord") +: stored: _*), rows, now)
      }
      val written: Seq[LogIndex.Entry] = local match {
        case Some((schema, rows)) =>
          if (rows.exists(_.isNullAt(0))) throw nullRoute(ordCol)
          checkDeclared(rows.map(_.getInt(0)))
          writeLocal(spark, schema, rows, bases, logDir, conf)
        case None =>
          // No re-shuffle or sort before the write: numberRuns left each
          // task's rows range-grouped and sorted by (partition, offset), so
          // each task cuts its contiguous offset runs straight into files —
          // a big single-partition batch writes from MANY tasks in parallel
          // (disjoint offset ranges per file keep the index exact), where a
          // `repartition(n, partition)` here would funnel it back into one.
          val (runs, numbered) =
            numberRuns(records, explicitP, keyCol, col(ordCol), n, bases, None)
          checkDeclared(runs.flatMap(_.map(_._1)))
          val rows = numbered.select(col("partition") +: col("offset") +: stored: _*)
          SegmentWriter(spark, logDir, rows.schema, conf.maxRecordsPerFile,
            Map("compression" -> conf.compression)).write(rows)
      }
      val ranges: Map[Int, (Long, Long)] = if (written.isEmpty) Map.empty else {
        LogIndex.appendDelta(wh, topic, written.map(_.copy(batchId = batchId)))
        written.groupBy(_.partition).map { case (p, es) =>
          p -> (es.map(_.baseOffset).min, es.map(_.endOffset).max)
        }
      }
      AppendResult(topic, batchId,
        ranges, written.map(_.count).sum)
    }
    compactIndexIfNeeded(spark, wh, topic, n)
    result
  }

  /** The rows of a frame whose records are already in driver memory: its
    * analyzed plan's when that is a `LocalRelation` (a `createDataFrame`
    * of driver-side rows), else its optimized plan's when that is one (a
    * `toDF`, filter or `withColumn` over such rows). A plan with a
    * non-local leaf is never optimized here: it cannot become local rows
    * (an empty result aside, which the Spark path writes the same), and a
    * curation join must not pay an optimizer pass for nothing. */
  private def localRows(df: DataFrame): Option[Seq[InternalRow]] = {
    val qe = df.queryExecution
    qe.analyzed match {
      case l: LocalRelation => Some(l.data)
      case p if p.collectLeaves().forall(_.isInstanceOf[LocalRelation]) =>
        Some(qe.optimizedPlan).collect { case l: LocalRelation => l.data }
      case _ => None
    }
  }

  /** `routed` — the one routing definition and the stored columns, a
    * projection of the input frame — evaluated over the input's local
    * `rows` (positionally its analyzed output) by one generated projection,
    * with no optimizer pass: Catalyst's `ConvertToLocalRelation` would
    * evaluate it interpreted, and the other rules would walk a plan
    * holding every row. Returns its schema and copied rows (partition, ord,
    * ts, key, value, headers).
    *
    * The append time `now` is read from one field after the input's, not
    * inlined: generated code embeds a long literal in its source, so each
    * append would compile a class of its own. Any literal equal to `now`
    * becomes that field, which has its value. */
  private def routeLocal(
      routed: DataFrame,
      rows: Seq[InternalRow],
      now: Long): Option[(StructType, Seq[InternalRow])] =
    Some(routed.queryExecution.analyzed).collect { case p @ Project(list, child) =>
      val nowField = BoundReference(child.output.length, LongType, nullable = false)
      val proj = UnsafeProjection.create(list.map { e =>
        BindReferences.bindReference[Expression](e, child.output).transform {
          case Literal(v, LongType) if v == now => nowField
        }
      })
      proj.initialize(0)
      val tail = InternalRow(now)
      val joined = new JoinedRow
      (p.schema, rows.map(r => proj(joined(r, tail)).copy()))
    }

  /** The driver path of [[append]]: `rows` are the routed projection's
    * (partition, ord, ts, key, value, headers), each routed to a partition,
    * so nothing here runs a Spark job. Each partition's rows are sorted by
    * `ord` with Spark's ordering for its type (ascending, nulls first, as
    * `sortWithinPartitions`), numbered from `bases`, and cut into chunks of
    * at most `maxRecordsPerFile` rows, which the [[SegmentWriter]] writes
    * in parallel, one file each. */
  private def writeLocal(
      spark: SparkSession,
      routed: StructType,
      rows: Seq[InternalRow],
      bases: Map[Int, Long],
      logDir: String,
      conf: ProducerConfig): Seq[LogIndex.Entry] = {
    val fields = routed.fields
    val byOrd = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(1, fields(1).dataType, nullable = true), Ascending)))
    val perFile =
      if (conf.maxRecordsPerFile > 0) math.min(conf.maxRecordsPerFile, Int.MaxValue).toInt
      else Int.MaxValue
    // (partition, first offset, rows) per file
    val chunks: Seq[(Int, Long, Seq[InternalRow])] =
      rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).flatMap { case (p, ps) =>
        val base = bases.getOrElse(p, 0L)
        ps.sorted(byOrd).grouped(perFile).zipWithIndex.map { case (c, i) =>
          (p, base + i.toLong * perFile, c)
        }
      }
    // the writer's rows: partition, offset, then the projection's ts, key,
    // value, headers (one reused buffer: the writer consumes each row at once)
    val schema = StructType(fields(0) +: StructField("offset", LongType, nullable = false) +:
      fields.drop(2).toSeq)
    val types = schema.fields.map(_.dataType)
    val writer = SegmentWriter(spark, logDir, schema, perFile.toLong,
      Map("compression" -> conf.compression))
    inParallel(chunks.zipWithIndex) { case ((p, first, rs), i) =>
      val out = new GenericInternalRow(types.length)
      out.update(0, p)
      writer.write(rs.iterator.zipWithIndex.map { case (r, k) =>
        out.update(1, first + k)
        var c = 2
        while (c < types.length) {
          out.update(c, if (r.isNullAt(c)) null else r.get(c, types(c)))
          c += 1
        }
        out
      }, i, 0)
    }.flatten
  }

  private def nullRoute(ord: String) = new IllegalArgumentException(
    s"a record with no key, no in-range explicit_partition and a null `$ord` " +
      "routes to no partition — nothing was staged")

  /** `f` over `xs` on the common fork-join pool, results in input order. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    xs.asJava.parallelStream().map[B](a => f(a))
      .collect(java.util.stream.Collectors.toList[B]).asScala.toSeq

  /** One index delta file lands per append; past this many the topic's
    * index is rewritten into one file. Each index row is thus rewritten
    * O(appends / MaxIndexFiles) times — bounded listing + reload in exchange
    * for a periodic metadata-scale rewrite (an index row is ~100 bytes per
    * SEGMENT, so even a million-segment topic compacts in one small job). */
  private val MaxIndexFiles = 64

  private def indexNeedsCompaction(wh: Warehouse, topic: String): Boolean =
    MetaTable.uncompacted(wh.indexDir(topic)) > MaxIndexFiles

  /** Compact the topic's index once its delta count crosses the bound.
    * Runs after the append released its locks and takes the full topic
    * lock: compaction rewrites EVERY partition's rows, and a
    * declared-partition append holds only its own — so index growth stays
    * bounded even for workloads that only ever do explicit-partition
    * appends. */
  private def compactIndexIfNeeded(
      spark: SparkSession, wh: Warehouse, topic: String, numPartitions: Int): Unit =
    if (indexNeedsCompaction(wh, topic))
      graft.core.Locks.withTopicLock(wh, topic, numPartitions) {
        if (indexNeedsCompaction(wh, topic)) LogIndex.compactIndex(spark, wh, topic)
      }
}
