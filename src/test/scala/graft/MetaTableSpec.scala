package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.core.{MetaTable, Schemas}
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.ConsumerGroup

/** The driver-side metadata store. Pins the two interop directions for
  * each of the three tables — Spark must read what the store writes, the
  * store must read what Spark writes (every table was Spark-written
  * before the store) — and the null handling of the index's `batch_id`,
  * because a silent mismatch here would corrupt offset assignment or
  * committed offsets rather than crash. */
class MetaTableSpec extends SparkSpec {

  private val tables: Seq[(String, StructType, Seq[Row])] = Seq(
    ("index", Schemas.index, Seq(
      Row("t", 0, "f0.parquet", 0L, 99L, 100L, null),
      Row("t", 1, "f1.parquet", 0L, 49L, 50L, 7L),
      Row("t", 0, "__hwm__", 100L, 99L, 0L, null))),
    ("topics", Schemas.topics, Seq(
      Row("a", 4, 1, 1700000000000L),
      Row("b", 1, 3, 1700000000001L))),
    ("offsets", ConsumerGroup.offsetsSchema, Seq(
      Row("g", "a", 0, 10L, 1700000000000L),
      Row("g", "a", 1, 5L, 1700000000001L))))

  private def sparkRead(dir: String, schema: StructType): Set[Row] =
    spark.read.schema(schema).parquet(dir).collect().toSet

  test("round-trip: appended and replaced rows come back via read") {
    tables.foreach { case (name, schema, rows) =>
      val dir = tmpDir(s"graft-meta-rt-$name") + "/table"
      MetaTable.append(dir, schema, rows.take(1))
      MetaTable.append(dir, schema, rows.drop(1))
      assert(MetaTable.read(dir, schema).toSet === rows.toSet, name)
      MetaTable.replace(dir, schema, rows.drop(1))
      assert(MetaTable.read(dir, schema).toSet === rows.drop(1).toSet, name)
    }
  }

  test("Spark reads store-written rows under each table's schema") {
    tables.foreach { case (name, schema, rows) =>
      val dir = tmpDir(s"graft-meta-spark-$name") + "/table"
      MetaTable.append(dir, schema, rows)
      assert(sparkRead(dir, schema) === rows.toSet, name)
    }
  }

  test("the store reads Spark-written rows of each table (required and optional columns)") {
    tables.foreach { case (name, schema, rows) =>
      // Spark writes non-nullable columns as required; a frame read back
      // from parquet is all-nullable and writes them optional
      Seq(schema, StructType(schema.map(_.copy(nullable = true)))).foreach { s =>
        val dir = tmpDir(s"graft-meta-legacy-$name") + "/table"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        assert(MetaTable.read(dir, schema).toSet === rows.toSet, name)
      }
    }
  }

  test("read skips dot/underscore files and handles a missing dir") {
    val (_, schema, rows) = tables.head
    val dir = tmpDir("graft-meta-skip") + "/table"
    MetaTable.append(dir, schema, rows.take(1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    assert(MetaTable.read(dir, schema).length === 1)
    assert(MetaTable.read(s"$dir/never-created", schema).isEmpty)
  }

  test("a warehouse whose catalog and offsets Spark wrote still reads and writes") {
    val wh = Warehouse(tmpDir("graft-meta-wh"))
    // the layout Spark append jobs left: part-files straight in the table dirs
    def sparkAppend(dir: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("append").parquet(dir)
    sparkAppend(wh.catalogDir, Schemas.topics, Seq(Row("a", 4, 1, 1700000000000L)))
    sparkAppend(wh.catalogDir, Schemas.topics, Seq(Row("b", 1, 1, 1700000000001L)))
    val offsets = s"${wh.root}/_groups/offsets/g"
    sparkAppend(offsets, ConsumerGroup.offsetsSchema, Seq(
      Row("g", "a", 0, 10L, 1700000000000L), Row("g", "a", 1, 5L, 1700000000000L)))
    sparkAppend(offsets, ConsumerGroup.offsetsSchema, Seq(
      Row("g", "a", 0, 20L, 1700000000001L)))

    assert(TopicCatalog.numPartitions(spark, wh, "a") === 4)
    assert(TopicCatalog.exists(spark, wh, "b"))
    assert(ConsumerGroup.committed(spark, wh, "g", "a") === Map(0 -> 20L, 1 -> 5L))
    // the store appends beside the Spark-written files and rewrites them
    TopicCatalog.createTopic(spark, wh, "c", 2)
    TopicCatalog.deleteTopic(spark, wh, "b")
    assert(TopicCatalog.topics(spark, wh).collect().map(_.getString(0)).toSet === Set("a", "c"))
    ConsumerGroup.commit(spark, wh, "g", "a", Map(1 -> 6L))
    ConsumerGroup.retainCommits(spark, wh, retentionMs = 0,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    assert(ConsumerGroup.committed(spark, wh, "g", "a") === Map(0 -> 20L, 1 -> 6L))
    assert(sparkRead(offsets, ConsumerGroup.offsetsSchema).size === 2)
  }
}
