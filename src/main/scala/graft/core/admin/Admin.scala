package graft.core.admin

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.Fs
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogRetention}

/** Admin/metadata surface — the Spark-native analog of the reference's
  * FluxAdminClient + controller metadata lookups.
  *
  *   - Cluster topology (reference K1/K2: broker bootstrap + registration,
  *     src/main/java/server/internal/Cluster.java:27-94 and
  *     Broker.java:119-183): the registration/decommission LIFECYCLE belongs
  *     to Spark's cluster manager, but the queryable snapshot the reference's
  *     controller serves is reproduced here from the live executor registry —
  *     [[describeCluster]] is the `getActiveBrokers` of this architecture.
  *   - Broker-for-partition lookup (reference P5:
  *     src/main/java/producer/RecordAccumulator.java:215-235 resolves
  *     `(topic, partition) → brokerId` against the cached ClusterSnapshot):
  *     storage-attached Spark has no broker ownership of partitions — the
  *     lookup becomes `(topic, partition) → segment files`, resolved against
  *     the same driver-side index cache the read path uses. [[placement]]
  *     answers it with no Spark job, exactly as the reference answers from
  *     its cached snapshot.
  *   - Topic description (reference K7 read side,
  *     src/main/java/metadata/InMemoryTopicMetadataRepository.java:24-89):
  *     [[describeTopic]] reports per-partition file/record counts and the
  *     committed offset range.
  *
  * Everything here is metadata-scale and driver-resident: executor registry
  * rows, index-cache rows, catalog rows. No data files are opened.
  */
object Admin {

  val clusterSchema: StructType = StructType(Seq(
    StructField("executor_id", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("port", IntegerType, nullable = false),
    StructField("num_running_tasks", IntegerType, nullable = false)))

  val topicSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_records", LongType, nullable = false),
    StructField("base_offset", LongType, nullable = false),
    StructField("end_offset", LongType, nullable = false)))

  val placementSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("base_offset", LongType, nullable = false),
    StructField("end_offset", LongType, nullable = false),
    StructField("n_records", LongType, nullable = false)))

  /** One row per live executor — the "registered broker" set. In local mode
    * this is the driver itself. */
  def describeCluster(spark: SparkSession): DataFrame = {
    val infos = spark.sparkContext.statusTracker.getExecutorInfos.toSeq
    val rows = infos.map { e =>
      Row(e.host + ":" + e.port, e.host, e.port, e.numRunningTasks())
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), clusterSchema)
  }

  /** Per-partition summary of a topic's committed log: file count, record
    * count, and offset range ([[LogIndex.bounds]]). Partitions whose files
    * were all expired report 0 files/records with the preserved
    * high-watermark range. Driver-side index cache, no Spark job. */
  def describeTopic(spark: SparkSession, wh: Warehouse, topic: String): DataFrame = {
    TopicCatalog.topicInfo(spark, wh, topic) // throws UnknownTopicException
    val entries = LogIndex.entries(spark, wh, topic)
    val data = entries.filter(_.isData).groupBy(_.partition)
    val rows = LogIndex.bounds(entries).toSeq.map { case (p, b) =>
      val es = data.getOrElse(p, Array.empty[LogIndex.Entry])
      Row(p, es.length.toLong, es.map(_.count).sum, b.first, b.next - 1)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), topicSchema)
  }

  /** Kafka's `beginningOffsets`: the earliest READABLE offset per partition
    * (rises as retention expires whole files; a fully-expired partition's
    * beginning equals its end — nothing readable, watermark preserved).
    * Driver-side index cache, no Spark job. */
  def beginningOffsets(spark: SparkSession, wh: Warehouse, topic: String): Map[Int, Long] =
    allBounds(spark, wh, topic).map { case (p, b) => p -> b.first }

  /** Kafka's `endOffsets`: the next offset to be assigned per partition
    * (0 for never-appended partitions). Driver-side index cache, no Spark
    * job. */
  def endOffsets(spark: SparkSession, wh: Warehouse, topic: String): Map[Int, Long] =
    allBounds(spark, wh, topic).map { case (p, b) => p -> b.next }

  /** Bounds for EVERY partition, as Kafka answers for every partition asked
    * about: a never-appended one begins (and ends) at 0, it does not vanish. */
  private def allBounds(spark: SparkSession, wh: Warehouse, topic: String) = {
    val n = TopicCatalog.topicInfo(spark, wh, topic).numPartitions
    val bounds = LogIndex.bounds(LogIndex.entries(spark, wh, topic))
    (0 until n).map(p => p -> bounds.getOrElse(p, LogIndex.Bounds(0L, 0L))).toMap
  }

  /** Consumer lag: log-end minus committed next-read offset, per partition —
    * the ops metric every consumer-group dashboard plots. A group that never
    * committed polls from each partition's BEGINNING ([[LogIndex.fetchRanges]]),
    * so its lag is end − beginning: offsets below the retention floor are
    * unreadable and cannot be owed. A commit that retention overtook still
    * counts them (Kafka's end − committed); its next poll skips them. */
  def consumerLag(
      spark: SparkSession,
      wh: Warehouse,
      groupId: String,
      topic: String): Map[Int, Long] = {
    val committed = graft.core.groups.ConsumerGroup.committed(spark, wh, groupId, topic)
    allBounds(spark, wh, topic).map { case (p, b) =>
      p -> math.max(0L, b.next - committed.getOrElse(p, b.first))
    }
  }

  /** [[verifyTopic]]'s report. `ok` fails on exactly the conditions reads
    * cannot reliably surface now that segment reads set
    * `ignoreMissingFiles` (see [[graft.core.log.LogReader.segmentFiles]]):
    * an INDEXED data file absent from disk (already-resolved plans skip it
    * SILENTLY; a fresh intersecting read throws but names only the one
    * path it tripped on, and non-intersecting polls never notice), an
    * index-chain hole above the retention watermark, or (deep mode) a file
    * whose on-disk record count diverges from its index row. `orphanFiles` — data files on disk the
    * index doesn't reference — are reported but do NOT fail: they are a
    * crashed append's debris, invisible to every reader, and
    * [[graft.core.log.LogRetention.vacuum]]'s job to sweep. */
  final case class TopicIntegrity(
      topic: String,
      missingFiles: Seq[String],
      indexGaps: Seq[String],
      countMismatches: Seq[String],
      orphanFiles: Seq[String]) {
    def ok: Boolean =
      missingFiles.isEmpty && indexGaps.isEmpty && countMismatches.isEmpty
    def summary: String =
      s"topic=$topic ok=$ok missing=${missingFiles.size} " +
        s"gaps=${indexGaps.size} count_mismatch=${countMismatches.size} " +
        s"orphans=${orphanFiles.size}"
  }

  /** Integrity check for the `ignoreMissingFiles` tradeoff: expiry only
    * ever removes WHOLE files strictly below a partition watermark, so a
    * reader skipping a vanished file still returns a correct (post-expiry)
    * log — but the SAME skip silently masks a genuinely lost or externally
    * deleted mid-log file. This is the detection surface: it distinguishes
    * legal prefix expiry (index row gone WITH the file, chain still dense
    * above the new watermark) from a mid-log hole (index row present, file
    * gone — or, deep mode, file truncated).
    *
    * Checks, in cost order:
    *   1. every INDEXED data file exists on disk (driver-side `fs.exists`
    *      per indexed file — metadata-scale, no Spark job);
    *   2. per partition, index rows chain densely: each file's base offset
    *      is the previous file's end + 1. Asserted only for partitions
    *      whose every file is offset-dense internally (`count == end −
    *      base + 1`) — a COMPACTED partition legally holds sparse
    *      survivor offsets (Kafka semantics), where density would be a
    *      false alarm while check 1 still catches external loss;
    *   3. `deep = true` only: ONE Spark job over the verified-present
    *      files, comparing each file's on-disk record count against its
    *      index row (catches truncation/corruption, compacted or not). It
    *      reads every page of every stored column and checks each against
    *      its parquet page CRC, so bit rot fails the audit with parquet's
    *      "CRC checksum verification failed".
    *
    * Wired into the lifecycle soaks (LOG/LOCK/RETENTION stamp
    * `integrity_ok`) and the Verify epilogue self-test; callers needing a
    * read-time guarantee run it before trusting a scan of a topic whose
    * storage may have been touched out-of-band. */
  def verifyTopic(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      deep: Boolean = false): TopicIntegrity = {
    TopicCatalog.topicInfo(spark, wh, topic) // throws UnknownTopicException
    val fs = Fs(wh.logDir(topic))
    val data = LogIndex.entries(spark, wh, topic).filter(_.isData)

    // 1. indexed-but-absent (THE hole ignoreMissingFiles masks)
    val missing = data.iterator
      .filterNot(e => fs.exists(new org.apache.hadoop.fs.Path(e.file)))
      .map(_.file).toSeq.sorted

    // 2. per-partition chain density above the watermark (append-only
    // partitions only; overlaps are corruption everywhere)
    val gaps = data.groupBy(_.partition).toSeq.sortBy(_._1).flatMap {
      case (p, es) =>
        val sorted = es.sortBy(_.baseOffset)
        val appendOnly =
          sorted.forall(e => e.count == e.endOffset - e.baseOffset + 1)
        sorted.iterator.sliding(2).withPartial(false).collect {
          case Seq(a, b)
              if b.baseOffset <= a.endOffset ||
                (appendOnly && b.baseOffset != a.endOffset + 1) =>
            s"p$p: [${a.baseOffset},${a.endOffset}] -> " +
              s"[${b.baseOffset},${b.endOffset}]"
        }
    }

    // orphans: on-disk data files no index row references (crash debris —
    // vacuum's jurisdiction, reported but not failed)
    val orphans = LogRetention.orphanFiles(wh, topic, data).map(_.toString)

    // 3. deep: on-disk record count per file vs the index row — one job
    // over the files check 1 proved present (a missing file would turn
    // this scan's absence into a confusing double report)
    val mismatches =
      if (!deep || data.isEmpty || missing.nonEmpty) Seq.empty[String]
      else {
        import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, xxhash64}
        val present = data.map(_.file).toIndexedSeq
        // a hash of every stored column rides along, unused: a bare count
        // reads only the footers (the optimizer turns a count of any
        // non-null column into one), and each page must be read for its
        // CRC to be checked
        val stored = graft.core.Schemas.record.fieldNames.filter(_ != "partition").map(col)
        val onDisk = spark.read
          .option("basePath", wh.logDir(topic))
          .option(graft.core.log.LogReader.VerifyPageChecksums, "true")
          .schema(graft.core.Schemas.record)
          .parquet(present: _*)
          .groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("n"), max(xxhash64(stored.toIndexedSeq: _*)).as("pages"))
          .collect()
          .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath
            -> r.getLong(1))
          .toMap
        data.toSeq.flatMap { e =>
          val got = onDisk.getOrElse(
            new org.apache.hadoop.fs.Path(e.file).toUri.getPath, 0L)
          if (got == e.count) None
          else Some(s"${e.file}: index=${e.count} disk=$got")
        }.sorted
      }

    TopicIntegrity(topic, missing, gaps, mismatches, orphans)
  }

  /** The P5 lookup: which storage serves each (topic, partition) — one row
    * per committed segment file with its offset range. */
  def placement(spark: SparkSession, wh: Warehouse, topic: String): DataFrame = {
    TopicCatalog.topicInfo(spark, wh, topic)
    val rows = LogIndex.entries(spark, wh, topic)
      .filter(_.isData)
      .map(e => Row(e.partition, e.file, e.baseOffset, e.endOffset, e.count))
      .toSeq
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), placementSchema)
  }
}
