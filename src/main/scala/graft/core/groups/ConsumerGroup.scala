package graft.core.groups

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Fs, MetaTable}
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader}

/** Consumer-group API: subscribe → deterministic assignment → incremental
  * poll → offset commit.
  *
  * The reference's coordinator round (reference:
  * src/main/java/consumer/FluxConsumer.java:52-128 join → sync → install;
  * grpc/services/GroupCoordinatorServiceImpl.java:47-148 leader election +
  * protocol choice) collapses to pure functions here — the driver owns group
  * membership, so `subscribe` is: negotiate protocol, run the assignor,
  * install the member's slice. The offset-commit surface the reference left
  * as a proto stub (SURVEY.md §2.7 Q6, src/main/proto/offset.proto:8-66)
  * is implemented as a committed-offsets table: last-commit-wins per
  * (group, topic, partition), read back as the last commit per partition.
  */
object ConsumerGroup {

  val offsetsSchema: StructType = StructType(Seq(
    StructField("group_id", StringType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false), // next offset to read
    StructField("commit_ts", LongType, nullable = false)))

  /** The committed-offsets table is SHARDED PER GROUP —
    * `_groups/offsets/<group>/` — with a per-group lock, so unrelated
    * groups' commits run fully in parallel; only a commit and a retention
    * sweep of the SAME group exclude each other (the one pair that must:
    * the sweep's snapshot would otherwise erase a commit that landed after
    * it read the rows). Layout v2: pre-shard warehouses (flat
    * parquet files directly under `_groups/offsets/`) are not read — this
    * engine has no cross-revision warehouse persistence contract; re-commit
    * offsets after upgrading a long-lived warehouse. */
  private def offsetsBase(wh: Warehouse): String = s"${wh.root}/_groups/offsets"

  private def groupDir(wh: Warehouse, groupId: String): String =
    s"${offsetsBase(wh)}/$groupId"

  private def groupLock(groupId: String): String = s"group-offsets-$groupId"

  /** Group ids become directory + lock-file names; one shared path-safety
    * policy with topic names ([[graft.core.Names]]). */
  private def validateGroupId(groupId: String): Unit =
    graft.core.Names.check(groupId).foreach(reason =>
      throw new IllegalArgumentException(s"group id '$groupId' $reason"))

  case class Membership(
      groupId: String,
      memberId: String,
      protocol: String,
      assignment: Map[String, Seq[Int]]) // topic -> partitions

  /** Join + assign in one step: all members' subscriptions are known to the
    * driver, so the coordinator round is a pure function. Returns every
    * member's installed slice; deterministic for a fixed member set. */
  def subscribe(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      members: Seq[Negotiation.Member],
      topics: Seq[String],
      previous: Map[String, Map[String, Seq[Int]]] = Map.empty)
    : Seq[Membership] = {
    val (leader, protocol) = Negotiation.negotiate(members).getOrElse(
      throw new IllegalArgumentException(
        s"group '$groupId': no protocol supported by every member"))
    val counts = topics.map(t =>
      t -> TopicCatalog.numPartitions(spark, wh, t)).toMap
    val assignor = Assignors.byName(protocol)
    val full = assignor.assign(members.map(_.memberId).sorted, counts, previous)
    val _ = leader // leader identity is observable via Negotiation.negotiate
    members.map { m =>
      Membership(groupId, m.memberId, protocol,
        full.getOrElse(m.memberId, Map.empty))
    }
  }

  /** Committed next-read offsets for a group: per partition, the last
    * commit by `commit_ts`, ties going to the larger offset (the order
    * [[retainCommits]] keeps). Read unlocked through the store: a
    * concurrent [[retainCommits]] snapshot shows either the rows before it
    * or after it, never "no commits" (a poll would silently restart from
    * the log beginning). */
  def committed(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      topic: String): Map[Int, Long] = {
    validateGroupId(groupId)
    MetaTable.read(groupDir(wh, groupId), offsetsSchema)
      .filter(_.getString(1) == topic)
      .groupBy(_.getInt(2))
      .map { case (p, rs) => p -> lastCommit(rs).getLong(3) }
  }

  /** The winning row of one (group, topic, partition): greatest
    * (`commit_ts`, `offset`). */
  private def lastCommit(rows: Array[Row]): Row =
    rows.maxBy(r => (r.getLong(4), r.getLong(3)))

  /** Append a commit row per partition (immutable log of commits; readers
    * take the latest — same append-only discipline as the data path). Runs
    * under THIS GROUP's lock so a concurrent [[retainCommits]] rewrite of
    * the same group can never erase a commit that landed after its
    * snapshot — while other groups commit in parallel. */
  def commit(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      topic: String,
      offsets: Map[Int, Long]): Unit =
    commitAll(spark, wh, groupId, Map(topic -> offsets))

  /** Commit a member's offsets across its WHOLE multi-topic assignment in
    * one locked append — one small file per call instead of one per topic
    * (the shape [[pollAll]] returns). */
  def commitAll(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      offsets: Map[String, Map[Int, Long]]): Unit = {
    validateGroupId(groupId)
    if (offsets.forall(_._2.isEmpty)) return
    graft.core.Locks.withLock(wh, groupLock(groupId)) {
      val now = System.currentTimeMillis()
      val rows = for {
        (topic, perPart) <- offsets.toSeq
        (p, o) <- perPart.toSeq
      } yield Row(groupId, topic, p, o, now)
      MetaTable.append(groupDir(wh, groupId), offsetsSchema, rows)
    }
  }

  /** Offset-commit retention: drop superseded commit rows older than the
    * horizon, always keeping the LATEST commit per (group, topic, partition)
    * — `committed()` is unchanged by a sweep. The reference's offset proto
    * carries `retention_time_ms` and an expire timestamp per fetched offset
    * (reference: src/main/proto/offset.proto:30-66); the reference server
    * never implements the sweep, this is the intended lifecycle. Without it
    * the append-only commit log grows with every commit ever made — at one
    * commit per partition per second that is the difference between a
    * bounded metadata table and an unbounded scan on every `committed()`.
    * Each group's rows are rewritten as one snapshot file of the store. */
  def retainCommits(
      spark: SparkSession,
      wh: Warehouse,
      retentionMs: Long,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    val base = new org.apache.hadoop.fs.Path(offsetsBase(wh))
    // swap dirs an older version left are not groups; a group that exists
    // only as one is renamed in by its next read and swept after that
    val groups = Fs.list(base)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || graft.core.Swap.isStagingName(n))
    // one group at a time, each under ITS lock only: the sweep excludes that
    // group's commits (the snapshot covers only the rows it read) without
    // ever pausing any other group's commit traffic
    groups.foreach { g =>
      graft.core.Locks.withLock(wh, groupLock(g)) {
        val dir = groupDir(wh, g)
        val rows = MetaTable.read(dir, offsetsSchema)
        if (rows.nonEmpty) {
          val kept = rows.groupBy(r => (r.getString(1), r.getInt(2))).values.toSeq
            .flatMap { rs =>
              val last = lastCommit(rs)
              last +: rs.filter(r => (r ne last) && r.getLong(4) >= nowMs - retentionMs)
            }
          MetaTable.replace(dir, offsetsSchema, kept)
        }
      }
    }
  }

  /** Poll the next `max` records of each assigned partition from its
    * position ([[LogIndex.fetchRanges]]); returns (records ordered by
    * partition and offset, nextOffsets-to-commit). */
  def poll(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      membership: Membership,
      topic: String,
      max: Long): (DataFrame, Map[Int, Long]) =
    pollFrom(spark, wh, membership, topic, max,
      committed(spark, wh, groupId, topic))

  /** Poll past an already-fetched committed-offset snapshot — lets callers
    * that have just read `committed()` (e.g. [[pollTimeout]]'s availability
    * probe) avoid a second offsets-table read. */
  private def pollFrom(
      spark: SparkSession,
      wh: Warehouse,
      membership: Membership,
      topic: String,
      max: Long,
      from: Map[Int, Long]): (DataFrame, Map[Int, Long]) = {
    val parts = membership.assignment.getOrElse(topic, Seq.empty).toSet
    // ONE index snapshot ranges the read AND gives the next offsets: an
    // append landing between two reads would otherwise advance `next` past
    // records the frame never held. A vanished-file retry re-reads the
    // snapshot for both.
    LogReader.retryOnceOnVanished {
      val entries = LogIndex.entries(spark, wh, topic)
      val ranges = fetchRanges(entries, parts, from, max)
      val records = LogReader.sortSlice(LogReader.scanRange(spark, wh, topic, entries, ranges),
        ranges.values.map { case (s, e) => e - s }.sum, "partition", "offset")
      // only the member's own partitions: `from` is the whole group's
      // committed map, and committing a peer's entry from it would rewind
      // that peer to this snapshot
      (records, from.filter { case (p, _) => parts(p) } ++ ranges.map { case (p, r) => p -> r._2 })
    }
  }

  /** The fetch ranges of a member's partitions over one index snapshot. */
  private def fetchRanges(
      entries: Array[LogIndex.Entry],
      parts: Set[Int],
      from: Map[Int, Long],
      max: Long): Map[Int, (Long, Long)] =
    LogIndex.fetchRanges(LogIndex.bounds(entries).filter { case (p, _) => parts(p) }, from, max)

  /** Poll every topic of the member's assignment in one call. The reference
    * installs a full `Map[topic -> partitions]` subscription
    * (reference: src/main/java/consumer/FluxConsumer.java:210-220) but its
    * poll path only ever reaches one topic — this is the union poll the
    * installed shape implies. Records carry a `topic` column; next offsets
    * come back per topic and advance independently (commit them in one
    * locked append via [[commitAll]]). */
  def pollAll(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      membership: Membership,
      max: Long): (DataFrame, Map[String, Map[Int, Long]]) = {
    val topics = membership.assignment.keys.toSeq.sorted
    val polled = topics.map { t =>
      val (df, next) = poll(spark, wh, groupId, membership, t, max)
      (df.withColumn("topic", lit(t)), t -> next)
    }
    val all = polled.map(_._1).reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(java.util.List.of[Row](), graft.core.Schemas.record)
        .withColumn("topic", lit(null).cast("string")))
    (all, polled.map(_._2).toMap)
  }

  /** The reference's `poll(Duration)` contract
    * (reference: src/main/java/consumer/FluxConsumer.java:136-147): block up
    * to `timeout` for at least one record to become available past the
    * committed offsets, then poll; an empty result after the deadline means
    * "nothing arrived", never an error. The wait probes only the
    * fingerprint-cached index listing (driver-side metadata, no Spark job
    * per probe), so a long-polling consumer costs one cheap FS listing per
    * interval until data lands. */
  def pollTimeout(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      membership: Membership,
      topic: String,
      max: Long,
      timeout: java.time.Duration,
      probeIntervalMs: Long = 50): (DataFrame, Map[Int, Long]) = {
    val from = committed(spark, wh, groupId, topic)
    val parts = membership.assignment.getOrElse(topic, Seq.empty).toSet
    def available(): Boolean =
      fetchRanges(LogIndex.entries(spark, wh, topic), parts, from, 1L)
        .exists { case (_, (s, e)) => s < e }
    val deadline = System.nanoTime() + timeout.toNanos
    while (!available() && System.nanoTime() < deadline)
      Thread.sleep(math.min(probeIntervalMs,
        math.max(1, (deadline - System.nanoTime()) / 1000000)))
    pollFrom(spark, wh, membership, topic, max, from)
  }
}
