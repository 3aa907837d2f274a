package graft.pipeline

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Fs

/** Shared compaction for the partitioned on-disk indexes ([[LshIndex]],
  * [[SrpIndex]], [[IvfIndex]]).
  *
  * Every `append` on those indexes adds one file per hit partition
  * directory per batch — the right write shape for ingest (touch only the
  * new rows), but after thousands of crawl batches the probe side pays an
  * open-per-file cost that grows without bound. Compaction is the
  * maintenance counterpart: rewrite each directory that has accumulated
  * more than `minFiles` data files into a single file, preserving (and
  * de-duplicating — see below) its rows.
  *
  * Shape: one bounded driver listing of the partition directories, then
  * per directory an isolated read → single-file staging write → move-in →
  * delete-old sequence, confined to one directory at a time so the index
  * stays live and a crash can damage at most one directory (these tables
  * have no offset index to commit by: readers list the directories). Directories are independent, so they compact CONCURRENTLY
  * (bounded pool): each rewrite is a small single-directory Spark job
  * whose fixed launch/commit latency would otherwise serialize — at 64
  * shards per table the serial loop pays 64 job latencies where the
  * pooled one pays ~64/8.
  *
  * Crash contract (single maintainer, same assumption as `append` — the
  * indexes are owned by one curation pipeline): a crash between the
  * move-in and the old-file deletes leaves BOTH copies of a directory's
  * rows. For [[LshIndex]]/[[SrpIndex]] that is harmless by construction —
  * probes already tolerate duplicate rows from replayed appends
  * (distinct-id bucket guards, by-id verify dedupe); for [[IvfIndex]] a
  * torn window can transiently duplicate top-k candidates. Re-running
  * compact converges every case to exactly one copy: the per-table
  * `dedupe` collapses replay/torn duplicates during the rewrite, so
  * compaction doubles as garbage collection for replayed-append rows.
  */
object IndexMaintenance {

  /** What one [[compactTable]] run did. */
  final case class CompactStats(dirsCompacted: Int, filesRemoved: Int) {
    def +(o: CompactStats): CompactStats =
      CompactStats(dirsCompacted + o.dirsCompacted,
        filesRemoved + o.filesRemoved)
  }

  private def dataFiles(dir: Path): Seq[Path] =
    Fs.list(dir).toSeq
      .filter(s => !s.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".")
      }

  // ------------------------- LSM-style delta tail -------------------------
  // A partitioned index's `append` used to write one file per hit
  // partition directory per batch through the dynamic-partition committer
  // — ~O(dirs) files and commit work per micro-batch. The delta tail makes
  // appends write ONE plain file per table (the partition value riding as
  // a data column) into `<table>_delta/`; reads union the directory-pruned
  // base with the (batch-scale) tail; compaction folds the tail into the
  // sharded base. Crash between fold and delete duplicates rows at worst —
  // the same duplicate-row class replayed appends already produce, which
  // every probe tolerates by construction.

  /** Data files currently in `<table>_delta/` (empty if absent). */
  def deltaFiles(spark: SparkSession, table: String): Seq[String] =
    dataFiles(new Path(s"${table}_delta")).map(_.toString)

  /** Append a batch-scale frame as ONE file to the delta tail. */
  def appendDelta(df: DataFrame, table: String): Unit =
    df.coalesce(1).write.mode("append").parquet(s"${table}_delta")

  /** Table schema per path, inferred once and pinned thereafter: an
    * index table's schema is immutable after build, but a bare
    * `spark.read.parquet(root)` pays footer inference + a FULL recursive
    * directory listing on EVERY call — per probe per micro-batch, twice
    * per index (candidate + verify side), growing with the index's file
    * count. Index `build`s overwrite their sub-tables in place and
    * [[graft.core.Memo.invalidate]] the index path, so a rebuild with a
    * changed schema is never served the stale pin (pinned parquet reads
    * silently null or drop changed columns). Stamped by build, not by
    * listing: a listing stamp would re-infer on every delta append. */
  private def tableSchema(
      spark: SparkSession, table: String): org.apache.spark.sql.types.StructType =
    graft.core.Memo("index.schema", table, ())(spark.read.parquet(table).schema)

  /** Partition-pruned base ∪ delta tail, both filtered on `partCol`.
    *
    * The prune happens at the LISTING level: one driver `listStatus` of
    * the table root picks exactly the hit `partCol=v` directories, and
    * the read opens only those (with the cached pinned schema) — the old
    * read-root-then-filter shape re-listed every partition directory and
    * re-inferred the schema per call, fixed per-batch overhead that grew
    * with the index. */
  def readWithDelta(
      spark: SparkSession, table: String, partCol: String,
      values: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = tableSchema(spark, table)
    val root = new Path(table)
    val want = values.map(v => s"$partCol=$v").toSet
    val listing = Fs(root).listStatus(root).toSeq
    val partitioned = listing.exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
    val dirs = listing
      .filter(st => st.isDirectory && want.contains(st.getPath.getName))
      .map(_.getPath.toString)
    val base =
      if (dirs.nonEmpty)
        spark.read.option("basePath", table).schema(schema)
          .parquet(dirs: _*)
      else if (partitioned)
        // real partCol= layout, just no hit directories — genuinely empty
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
      else {
        // no partCol= directories at all: either an empty table (fine) or
        // an UNPARTITIONED layout, where the listing-level prune would
        // silently return an empty base. Fall back to the root read +
        // filter shape so a layout mismatch stays correct, never silent.
        import org.apache.spark.sql.functions.col
        val hasData = listing.exists(st => !st.isDirectory && {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
        if (!hasData)
          spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
        else
          spark.read.parquet(table).filter(col(partCol).isInCollection(values))
      }
    deltaFiles(spark, table) match {
      case Seq() => base
      case files =>
        // tail schema is INFERRED from the tail (the partition column
        // rides as a data column there and may carry a wider type than
        // the directory-inferred one — e.g. a long bucket vs int dir
        // values; the union coerces as it always has) but only ONCE per
        // table: per-read inference was a footer-read driver job per
        // stage per micro-batch. The tail is written by appendDelta with
        // one stable schema per table, so foldDelta doesn't invalidate: a
        // post-fold tail comes from the same appender with the same schema
        val ts = graft.core.Memo("index.tail-schema", table, ())(
          spark.read.parquet(files: _*).schema)
        base.unionByName(spark.read.schema(ts).parquet(files: _*)
          .filter(col(partCol).isInCollection(values)))
    }
  }

  /** Unfiltered base ∪ delta tail — for readers that filter later (the
    * filter still partition-prunes the base; the tail is batch-scale). */
  def readAllWithDelta(spark: SparkSession, table: String): DataFrame = {
    val base = spark.read.parquet(table)
    deltaFiles(spark, table) match {
      case Seq() => base
      case files => base.unionByName(spark.read.parquet(files: _*))
    }
  }

  /** Fold the delta tail into the partitioned base (append partitioned by
    * `partCol`), then delete exactly the folded files. Replay-safe: see
    * the tail contract above.
    *
    * The fold runs a FULL-ROW dedupe over the tail first: replayed
    * appends write verbatim duplicate rows, and when the fold CREATES a
    * partition directory (one coalesced file per dir), `compactTable`'s
    * ≥ minFiles guard skips it — without this, the duplicates bake into
    * a single-file directory that no later compaction rewrites (caught
    * by the IndexSoak crash leg: 7 replayed ids stayed duplicated
    * through every subsequent compact). Duplicates split across base
    * and tail still converge via compactTable: the fold adds a file to
    * the dir, pushing it over the rewrite threshold. */
  def foldDelta(
      spark: SparkSession, table: String, partCol: String): CompactStats = {
    val files = deltaFiles(spark, table)
    if (files.isEmpty) CompactStats(0, 0)
    else {
      spark.read.parquet(files: _*)
        .dropDuplicates()
        .repartition(org.apache.spark.sql.functions.col(partCol))
        .write.mode("append").partitionBy(partCol).parquet(table)
      val fs = Fs(s"${table}_delta")
      files.foreach(f => fs.delete(new Path(f), false))
      CompactStats(1, files.size)
    }
  }

  /** Compact every `col=value` partition directory under `table` holding
    * more than `minFiles` data files. `dedupe` runs on each directory's
    * rows during the rewrite (partition column excluded — it lives in the
    * directory name and is re-implied by writing back into the same
    * directory). */
  def compactTable(
      spark: SparkSession,
      table: String,
      dedupe: DataFrame => DataFrame,
      minFiles: Int = 2): CompactStats = {
    val root = new Path(table)
    val fs = Fs(root)
    if (!fs.exists(root)) return CompactStats(0, 0)
    val partDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath)
    def compactOne(dir: Path): CompactStats = {
      val old = dataFiles(dir)
      if (old.size < minFiles) CompactStats(0, 0)
      else {
        val tag = UUID.randomUUID().toString.take(8)
        val staging = new Path(root, s".compact-$tag")
        try {
          dedupe(spark.read.parquet(old.map(_.toString): _*))
            .coalesce(1)
            .write.mode("overwrite").parquet(staging.toString)
          val part = dataFiles(staging).headOption.getOrElse(
            throw new IllegalStateException(
              s"compact: staging write produced no data file under $staging"))
          val target = new Path(dir, s"part-00000-compact-$tag.parquet")
          if (!fs.rename(part, target))
            throw new IllegalStateException(s"compact: failed to install $target")
          // from here the directory is a superset (old + compacted) — every
          // read stays correct; the deletes shrink it back to one copy
          old.foreach(p => fs.delete(p, false))
          CompactStats(1, old.size)
        } finally fs.delete(staging, true)
      }
    }
    // bounded concurrency: directories are independent (unique staging
    // tags, disjoint targets); the pool hides the per-directory job
    // launch + commit latency that dominates these tiny rewrites
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(8, partDirs.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try
      Await.result(Future.sequence(partDirs.map(d => Future(compactOne(d)))),
          Duration.Inf)
        .foldLeft(CompactStats(0, 0))(_ + _)
    finally pool.shutdown()
  }
}
