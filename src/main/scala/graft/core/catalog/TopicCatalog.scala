package graft.core.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core._

/** Warehouse directory layout. One warehouse = one "cluster" of topics.
  *
  * {{{
  *   <root>/_catalog/topics/            topic registry (parquet)
  *   <root>/_index/<topic>/             per-file offset index (parquet)
  *   <root>/logs/<topic>/partition=<p>/ the log segments (parquet)
  * }}}
  *
  * The index is PER TOPIC: appends to different topics never touch each
  * other's index files, index rewrites (retention/compaction/deletion) are
  * serialized by the topic lock alone, and the cache-staleness fingerprint
  * lists one topic's handful of files instead of the whole cluster's.
  */
case class Warehouse(root: String) {
  def catalogDir: String = s"$root/_catalog/topics"
  def indexBase: String = s"$root/_index"
  def indexDir(topic: String): String = s"$root/_index/$topic"
  def logDir(topic: String): String = s"$root/logs/$topic"
  def partitionDir(topic: String, p: Int): String = s"${logDir(topic)}/partition=$p"
}

/** Topic lifecycle + metadata — the engine's control plane.
  *
  * Replaces the reference's controller-gated topic creation and in-memory
  * metadata repository (reference: src/main/java/server/internal/Broker.java:87-116
  * with validation :340-353; src/main/java/metadata/InMemoryTopicMetadataRepository.java:24-89).
  * Validation rules are ported 1:1: non-empty unique name, >= 1 partition,
  * 0 <= replicationFactor <= 3. Replication factor is recorded for API parity
  * but has no physical meaning here (storage redundancy belongs to the
  * filesystem under Spark).
  */
object TopicCatalog {
  /** Reference: Broker.java:54 (`MAX_REPLICATION_FACTOR = 3`). */
  val MaxReplicationFactor = 3

  /** Topic names become warehouse directory names, so they must be
    * path-safe (no separators, no leading `.`/`_` that Spark's file listing
    * or the warehouse layout treats specially) and must not collide with
    * the `*_rewrite`/`*_old` dirs of older versions' swaps
    * ([[graft.core.Swap]]) — topic `X_rewrite`'s index would be deleted
    * with topic X, or renamed in as X's. One policy shared with group ids
    * ([[graft.core.Names]]). */
  private[graft] def validateName(topic: String): Unit =
    graft.core.Names.check(topic).foreach(reason =>
      throw new InvalidTopicException(s"topic name '$topic' $reason"))

  def createTopic(
      spark: SparkSession,
      wh: Warehouse,
      topic: String,
      numPartitions: Int,
      replicationFactor: Int = 1): FluxTopic = {
    validateName(topic)
    if (numPartitions < 1)
      throw new InvalidTopicException(s"numPartitions must be >= 1, got $numPartitions")
    if (replicationFactor < 0 || replicationFactor > MaxReplicationFactor)
      throw new InvalidTopicException(
        s"replicationFactor must be in [0, $MaxReplicationFactor], got $replicationFactor")
    // check and register under one lock: concurrent creates of one name
    // must not both pass the check, and a concurrent delete's rewrite must
    // not drop a registration that landed after its snapshot
    withCatalogLock(wh) {
      if (exists(spark, wh, topic))
        throw new TopicAlreadyExistsException(s"topic '$topic' already exists")
      MetaTable.append(wh.catalogDir, Schemas.topics,
        Seq(Row(topic, numPartitions, replicationFactor, System.currentTimeMillis())))
    }
    FluxTopic(topic, numPartitions, replicationFactor)
  }

  /** Serializes the catalog's writers (create, delete's rewrite). Taken
    * innermost — after any topic lock — so the lock order stays acyclic. */
  private def withCatalogLock[T](wh: Warehouse)(body: => T): T =
    Locks.withLock(wh, "catalog")(body)

  /** All registered topics, as a local relation over the catalog rows.
    * Reference: InMemoryTopicMetadataRepository.getActiveTopics. */
  def topics(spark: SparkSession, wh: Warehouse): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(registry(wh): _*), Schemas.topics)

  /** The catalog rows, read driver-side. */
  private def registry(wh: Warehouse): Array[Row] =
    MetaTable.read(wh.catalogDir, Schemas.topics)

  def exists(spark: SparkSession, wh: Warehouse, topic: String): Boolean =
    cachedTopics(spark, wh).contains(topic)

  // Driver-side catalog cache — the analog of the reference's singleton
  // InMemoryTopicMetadataRepository (metadata-scale), invalidated by
  // the catalog dir's [[graft.core.Memo.listing]] so cross-JVM creates are
  // seen. Not a Memo: a change must also notify the listeners below.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Map[String, FluxTopic])]

  /** Observer invoked with the fresh topic snapshot when a catalog CHANGE is
    * detected (a reload whose fingerprint differs from the cached one) — the
    * analog of the reference's metadata listeners, notified with the new
    * `ClusterSnapshot` on change (reference:
    * src/main/java/metadata/Metadata.java:86-93,120-152; the producer swaps
    * its routing snapshot in such a callback, FluxProducer.java:254-259).
    * Pull-based: the callback fires on the next catalog access that observes
    * the change, not on a background thread. */
  type Listener = Map[String, FluxTopic] => Unit

  private val listeners =
    scala.collection.concurrent.TrieMap.empty[String, List[Listener]]

  def addListener(wh: Warehouse, l: Listener): Unit =
    listeners.updateWith(wh.root)(cur => Some(l :: cur.getOrElse(Nil)))

  def removeListeners(wh: Warehouse): Unit = listeners.remove(wh.root)

  private def cachedTopics(spark: SparkSession, wh: Warehouse): Map[String, FluxTopic] = {
    val fp = graft.core.Memo.listing(wh.catalogDir)
    cache.get(wh.root) match {
      case Some((f, m)) if f == fp => m
      case prev =>
        val m = registry(wh)
          .map(r => r.getString(0) -> FluxTopic(r.getString(0), r.getInt(1), r.getInt(2)))
          .toMap
        cache.put(wh.root, (fp, m))
        // notify on CHANGE (had a snapshot, it differs), not on first load —
        // mirrors the reference's notifyListeners on metadata updates
        if (prev.isDefined)
          listeners.getOrElse(wh.root, Nil).foreach(_.apply(m))
        m
    }
  }

  /** Reference: InMemoryTopicMetadataRepository.getPartitionsFor. */
  def topicInfo(spark: SparkSession, wh: Warehouse, topic: String): FluxTopic =
    cachedTopics(spark, wh).getOrElse(topic,
      throw new UnknownTopicException(s"unknown topic '$topic'"))

  def numPartitions(spark: SparkSession, wh: Warehouse, topic: String): Int =
    topicInfo(spark, wh, topic).numPartitions

  /** Delete a topic under its topic lock: index dir first (readers go
    * blind), then the data files, then the catalog row — rewritten under
    * the catalog lock, so concurrent creates and deletes of other topics are
    * never lost to this rewrite. A crash mid-way leaves a still-registered
    * topic with a partial/empty log — re-running deleteTopic finishes the
    * job — and never an unregistered name whose stale index/data a
    * re-create would resurrect. The per-topic index dir makes this a plain
    * recursive delete: no other topic's rows are ever rewritten (and so
    * cannot be lost to a concurrent append). The topic's lock files under
    * `_locks` are left in place: a waiter may have one open, and unlinking
    * it would let that waiter and a new creator lock two different files
    * (see [[graft.core.Locks]]). */
  def deleteTopic(spark: SparkSession, wh: Warehouse, topic: String): Unit = {
    if (!exists(spark, wh, topic))
      throw new UnknownTopicException(s"unknown topic '$topic'")
    val n = numPartitions(spark, wh, topic)
    graft.core.Locks.withTopicLock(wh, topic, n) {
      val idx = new org.apache.hadoop.fs.Path(wh.indexDir(topic))
      val fs = Fs(idx)
      // an older version's swap dirs go FIRST: with the live dir gone,
      // MetaTable's legacy rule would rename a stale rewrite in, or read a
      // re-created topic's index as a stuck swap
      fs.delete(new org.apache.hadoop.fs.Path(Swap.rewriteDir(wh.indexDir(topic))), true)
      fs.delete(new org.apache.hadoop.fs.Path(Swap.oldDir(wh.indexDir(topic))), true)
      fs.delete(idx, true)
      graft.core.log.LogIndex.invalidate(wh, topic)
      fs.delete(new org.apache.hadoop.fs.Path(wh.logDir(topic)), true)
      withCatalogLock(wh) {
        MetaTable.replace(wh.catalogDir, Schemas.topics,
          registry(wh).filter(_.getString(0) != topic).toSeq)
      }
    }
  }

  /** Register every topic as a SQL temp view named `topic_<name>`, backed by
    * the indexed log scan — the engine's `spark.sql` surface over topics. */
  def registerViews(spark: SparkSession, wh: Warehouse): Seq[String] = {
    import graft.core.log.LogReader
    registry(wh).map(_.getString(0)).toSeq.map { t =>
      val view = s"topic_$t"
      LogReader.scan(spark, wh, t).createOrReplaceTempView(view)
      view
    }
  }
}
