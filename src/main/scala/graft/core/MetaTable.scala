package graft.core

import java.io.FileNotFoundException
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
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
  * LOCAL-FS ASSUMPTION: every path here resolves through [[Fs]], the
  * driver's one shared Hadoop configuration, which carries the defaults.
  * It is the single place a session's `spark.hadoop.*` settings would be
  * threaded for a warehouse on a configured filesystem (that threading is
  * not done: the warehouse is a local directory).
  */
private[graft] object MetaTable {

  private val Retries = 3

  /** Every row of every data file under `dir` (`_`/`.` names skipped), read
    * in one parallel driver pass; empty for a missing table.
    *
    * Safe against a concurrent [[replace]]: each attempt first finishes a
    * crashed install ([[Swap.heal]]); a file that vanishes between the
    * listing and its read re-lists and re-reads; and an empty listing is
    * trusted only for a table that is absent with no swap marker
    * (`_rewrite`/`_old`) beside it. Otherwise it is the swap's blink — the
    * live dir renamed aside mid-listing (the local filesystem then lists it
    * as empty) or missing between the two renames — and is re-checked,
    * never read as "no rows". Markers that outlast the retries with no live
    * dir are a stuck swap, which throws: an empty answer would read as "no
    * commits" or "no topics". */
  def read(dir: String, schema: StructType): Array[Row] = {
    val live = new Path(dir)
    val fs = Fs(live)
    def marked: Boolean =
      fs.exists(new Path(Swap.rewriteDir(dir))) || fs.exists(new Path(Swap.oldDir(dir)))
    var attempt = 0
    while (true) {
      attempt += 1
      Swap.heal(fs, dir)
      var listError: Option[java.io.IOException] = None
      val files =
        try fs.listStatus(live).map(_.getPath).filter(p => visible(p.getName))
        catch { case e: java.io.IOException => listError = Some(e); Array.empty[Path] }
      if (files.nonEmpty) {
        try {
          return java.util.Arrays.stream(files).parallel()
            .map[Seq[Row]](p => readFile(p, schema))
            .collect(java.util.stream.Collectors.toList[Seq[Row]])
            .asScala.toArray.flatten
        } catch {
          case e: Exception if attempt <= Retries && vanished(e) => ()
        }
      } else {
        val present = fs.exists(live)
        if (!present && !marked) return Array.empty // genuinely absent
        if (attempt > Retries) {
          if (!present)
            throw new IllegalStateException(
              s"$dir: swap is stuck after $attempt attempts (markers under " +
                s"${Swap.rewriteDir(dir)} / ${Swap.oldDir(dir)}) — refusing to read it as empty")
          listError.foreach(e => throw e)
          return Array.empty // an existing dir with no data file
        }
      }
      Thread.sleep(10L * attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Land `rows` as ONE new file of the table: written into a private
    * staging dir beside it (`.delta=<table>=<uid>`), then renamed in under
    * a unique name. Never a shared `_temporary` dir — concurrent writers
    * staging there delete each other's in-flight files. A crash leaves the
    * staging dir, which no reader lists; `=` cannot appear in a validated
    * topic or group name, so a prefix match on `.delta=<name>=` (the
    * index's vacuum) never claims another table's staging. */
  def append(dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val live = new Path(dir)
    val fs = Fs(live)
    // a crashed swap must be finished first: a fresh live dir would shadow
    // the complete rewrite and the rows in it would be lost
    Swap.heal(fs, dir)
    val uid = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(live.getParent, s".delta=${live.getName}=$uid")
    val staged = new Path(staging, s"delta-$uid.parquet")
    writeFile(staged, schema, rows)
    fs.mkdirs(live)
    if (!fs.rename(staged, new Path(live, staged.getName)))
      throw new IllegalStateException(s"failed to land a delta in $dir")
    fs.delete(staging, true)
  }

  /** Replace the table's rows wholesale: one file written into
    * `<dir>_rewrite`, then the reader-safe [[Swap.install]]. */
  def replace(dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val fs = Fs(dir)
    val rewrite = new Path(Swap.rewriteDir(dir))
    fs.delete(rewrite, true) // a crashed replace's partial rewrite
    writeFile(new Path(rewrite, s"part-${java.util.UUID.randomUUID()}.parquet"), schema, rows)
    Swap.install(fs, dir)
  }

  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** A file (or its checksum sidecar, opened through java.nio) that a
    * swap removed after the listing. */
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
    }.build()
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

  private def writeFile(path: Path, schema: StructType, rows: Seq[Row]): Unit = {
    val mt = messageType(schema)
    // a private copy: a writer builder may set keys on the conf it is handed
    val conf = new Configuration(Fs.conf)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(path, conf))
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
