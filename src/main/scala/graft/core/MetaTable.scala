package graft.core

import java.io.FileNotFoundException
import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import scala.jdk.CollectionConverters._

/** The one store of the warehouse's metadata tables: the per-topic offset
  * index, the topic catalog and the per-group committed offsets.
  *
  * Each table is a directory of small parquet files of ~100-byte rows, and
  * each has the same life cycle: append one small file, read every row,
  * rewrite the whole table. At that scale a Spark job is pure scheduler
  * overhead (50–130 ms per job in a 4-core local session), so every
  * operation runs on the driver through parquet-mr — the way Structured
  * Streaming keeps its offset and commit logs as small files its driver
  * writes itself. The files stay plain parquet under the table's Spark
  * schema: Spark reads what this writes, and this reads what Spark wrote.
  *
  * Writers hold the table's lock (topic partition locks for the index, the
  * `catalog` lock, the group's offsets lock); readers take none.
  *
  * Only files are renamed, never dirs — the rule of Structured Streaming's
  * offset log and Spark's `CompactibleFileStreamLog`. A table is its
  * newest snapshot `snap-<gen>.parquet` plus the deltas
  * `delta-<gen>-<uid>.parquet` named after it; any other data file
  * (Spark's `part-*`, older versions' deltas) is generation 0. An append
  * and a replace of one table never overlap (every append holds a lock
  * every replace holds), so a delta's generation cannot go stale as it lands.
  *
  * A reader's listing is one read of the directory ([[Fs.names]]), which
  * the local filesystem orders against each rename and unlink of a
  * [[replace]]: it shows the dir before the snapshot rename or after it
  * (the new snapshot then wins over any covered file still left), never a
  * torn set. The one retry rule: a file deleted after the listing, or
  * missing from it (a delta newer than every listed snapshot), re-lists.
  *
  * LOCAL-FS ASSUMPTION: every path here resolves through [[Fs]]. Files and
  * dirs are created through `java.nio` ([[Fs.local]]; other schemes fail),
  * which forks nothing where a Hadoop local create forks a `chmod` per file,
  * sidecar and dir. Reads, listings, renames and deletes go through the
  * driver's one shared Hadoop configuration, which carries the defaults.
  */
private[graft] object MetaTable {

  /** Bound on re-lists: each needs a replace to finish inside one read. */
  private val Retries = 8

  private val Snapshot = """snap-(\d+)\.parquet""".r
  private val Delta = """delta-(\d+)-[0-9a-f]{16}\.parquet""".r
  private val SnapshotTemp = """\.snap-.*\.parquet""".r

  /** A data file of a table dir and the snapshot generation it belongs to. */
  private final case class DataFile(name: String, gen: Long, snapshot: Boolean)

  /** The data files among a dir's names (`_`/`.` names skipped). */
  private def dataFiles(names: Seq[String]): Seq[DataFile] =
    names.filter(visible).map {
      case n @ Snapshot(g) => DataFile(n, g.toLong, snapshot = true)
      case n @ Delta(g) => DataFile(n, g.toLong, snapshot = false)
      case n => DataFile(n, 0L, snapshot = false)
    }

  /** Generation of the newest snapshot, 0 when there is none. */
  private def newest(files: Seq[DataFile]): Long =
    files.filter(_.snapshot).map(_.gen).maxOption.getOrElse(0L)

  private def files(dir: String): Seq[DataFile] = dataFiles(listing(dir).getOrElse(Nil))

  /** Names in `dir`; None for an absent table.
    *
    * Legacy rule, run only when the dir is missing: older versions
    * rewrote a table by renaming the dir aside and `<dir>_rewrite` in. A
    * crash between those renames left the complete rewrite and no dir, so
    * the rewrite is renamed in and the aside copy deleted; a rename lost to
    * another reader, like a dir that reappeared, re-lists. An aside copy
    * alone is a stuck swap, which throws: reading it as empty would read as
    * "no commits" or "no topics". */
  private def listing(dir: String): Option[Seq[String]] = {
    val live = new Path(dir)
    val fs = Fs(live)
    val rewrite = new Path(Swap.rewriteDir(dir))
    val old = new Path(Swap.oldDir(dir))
    while (true) {
      Fs.names(live) match {
        case found @ Some(_) => return found
        case None if fs.exists(rewrite) =>
          val renamed =
            try fs.rename(rewrite, live)
            catch { case _: java.io.IOException => false }
          if (renamed) fs.delete(old, true)
          else if (!fs.exists(live))
            throw new IllegalStateException(s"$dir: failed to rename ${Swap.rewriteDir(dir)} in")
        case None if !fs.exists(live) =>
          if (fs.exists(old))
            throw new IllegalStateException(
              s"$dir: swap is stuck (only ${Swap.oldDir(dir)} is left) — refusing to read it as empty")
          return None
        case None => ()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Every row of the table at `dir` — its newest snapshot plus the deltas
    * that follow it, read in one parallel driver pass; empty for a missing
    * table. */
  def read(dir: String, schema: StructType): Array[Row] = {
    var attempt = 0
    while (true) {
      attempt += 1
      val listed = files(dir)
      val gen = newest(listed)
      try {
        if (listed.exists(_.gen > gen))
          throw new FileNotFoundException(s"$dir: snapshot ${gen + 1} is not listed")
        return java.util.Arrays.stream(listed.filter(_.gen == gen).toArray).parallel()
          .map[Seq[Row]](f => readFile(new Path(dir, f.name), schema))
          .collect(java.util.stream.Collectors.toList[Seq[Row]])
          .asScala.toArray.flatten
      } catch {
        case e: Exception if attempt <= Retries && vanished(e) => ()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Deltas the newest snapshot does not cover — the files a [[replace]]
    * would fold into one. */
  def uncompacted(dir: String): Int = {
    val listed = files(dir)
    val gen = newest(listed)
    listed.count(f => !f.snapshot && f.gen == gen)
  }

  /** Land `rows` as ONE new delta of the table: written into a private
    * staging dir beside it (`.delta=<table>=<uid>`), then renamed in as
    * `delta-<gen>-<uid>.parquet` after the newest snapshot. Never a shared
    * `_temporary` dir — concurrent writers staging there delete each
    * other's in-flight files. A crash leaves the staging dir, which no
    * reader lists; `=` cannot appear in a validated topic or group name, so
    * a prefix match on `.delta=<name>=` (the index's vacuum) never claims
    * another table's staging. The file and both dirs are created through
    * `java.nio` ([[writeFile]]), so nothing forks a `chmod`. */
  def append(dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val live = new Path(dir)
    val fs = Fs(live)
    val gen = newest(files(dir))
    val uid = uid16()
    val staging = new Path(live.getParent, s".delta=${live.getName}=$uid")
    val staged = new Path(staging, s"delta-$gen-$uid.parquet")
    writeFile(staged, schema, rows)
    Files.createDirectories(Fs.local(live))
    if (!fs.rename(staged, new Path(live, staged.getName)))
      throw new IllegalStateException(s"failed to land a delta in $dir")
    fs.delete(staging, true)
  }

  /** Replace the table's rows with one snapshot: written as a dot-file,
    * renamed in as `snap-<gen+1>.parquet`, then every file the listing held
    * is deleted, older snapshots first (a listing spread over several
    * directory reads that missed a delta deleted meanwhile then finds its
    * snapshot gone), plus crashed replaces' dot-files. Spark reading the
    * dir as plain parquet then sees exactly the table again. */
  def replace(dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val live = new Path(dir)
    val fs = Fs(live)
    val names = listing(dir).getOrElse(Nil)
    val covered = dataFiles(names)
    val gen = newest(covered) + 1
    val temp = new Path(live, s".snap-$gen-${uid16()}.parquet")
    writeFile(temp, schema, rows)
    if (!fs.rename(temp, new Path(live, s"snap-$gen.parquet")))
      throw new IllegalStateException(s"failed to install snapshot $gen in $dir")
    (covered.sortBy(!_.snapshot).map(_.name) ++ names.filter(SnapshotTemp.matches))
      .foreach(n => fs.delete(new Path(live, n), false))
  }

  private def uid16(): String = java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** A file (or its checksum sidecar, opened through java.nio) that a
    * replace removed after the listing, or that the listing missed. */
  private def vanished(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: FileNotFoundException | _: java.nio.file.NoSuchFileException => true
      case _ => false
    }

  /** The parquet-mr schema Spark writes for `schema`: strings as
    * UTF8-annotated binary, int as int32, long as int64, nullable columns
    * optional. */
  private def messageType(schema: StructType): MessageType =
    new MessageType("spark_schema", schema.fields.toSeq.map[Type] { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      f.dataType match {
        case StringType =>
          Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(f.name)
        case IntegerType => Types.primitive(INT32, rep).named(f.name)
        case LongType => Types.primitive(INT64, rep).named(f.name)
        case t => throw new IllegalArgumentException(
          s"metadata column '${f.name}' has unsupported type $t")
      }
    }.asJava)

  private def readFile(path: Path, schema: StructType): Seq[Row] = {
    val out = Seq.newBuilder[Row]
    val reader = new ParquetReader.Builder[Group](Fs.inputFile(path)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport
    }.usePageChecksumVerification(true).build()
    try {
      var g: Group = reader.read()
      while (g != null) {
        val values = schema.fields.map { f =>
          // absent or null in this file reads as null
          if (!g.getType.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
          else f.dataType match {
            case StringType => g.getString(f.name, 0)
            case IntegerType => g.getInteger(f.name, 0)
            case _ => g.getLong(f.name, 0)
          }
        }
        out += new GenericRowWithSchema(values, schema)
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  /** Write `rows` as a new file at `path`, its dir created if missing,
    * through `java.nio`: a Hadoop create forks a `chmod` for the file, its
    * `.crc` sidecar and each dir ([[Fs]]). Parquet's page CRCs, verified by
    * [[readFile]], take the sidecar's place. */
  private def writeFile(path: Path, schema: StructType, rows: Seq[Row]): Unit = {
    val mt = messageType(schema)
    val local = Fs.local(path)
    Files.createDirectories(local.getParent)
    // a private copy: a writer builder may set keys on the conf it is handed
    val conf = new Configuration(Fs.conf)
    val writer = ExampleParquetWriter
      .builder(new LocalOutputFile(local))
      .withType(mt)
      .withConf(conf)
      .build()
    val factory = new SimpleGroupFactory(mt)
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        val name = schema(i).name
        schema(i).dataType match {
          case StringType => g.append(name, r.getString(i))
          case IntegerType => g.append(name, r.getInt(i))
          case _ => g.append(name, r.getLong(i))
        }
      }
      writer.write(g)
    } finally writer.close()
  }
}
