package graft

import graft.core._
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogWriter}
import org.apache.spark.sql.functions._

class LogSpec extends SparkSpec {
  import spark.implicits._

  def freshWarehouse(): Warehouse = Warehouse(tmpDir("graft-wh"))

  def someRecords(n: Int, keyed: Boolean = true) = {
    (0 until n).map { i =>
      (i.toLong, 1700000000000L + i,
        if (keyed) s"k${i % 7}" else null,
        s"v$i")
    }.toDF("id", "ts", "key", "value")
  }

  test("topic creation: validation ports 1:1") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "events", 4, 1)
    assert(TopicCatalog.exists(spark, wh, "events"))
    assert(TopicCatalog.numPartitions(spark, wh, "events") === 4)
    intercept[TopicAlreadyExistsException] {
      TopicCatalog.createTopic(spark, wh, "events", 2)
    }
    intercept[InvalidTopicException] { TopicCatalog.createTopic(spark, wh, "", 1) }
    intercept[InvalidTopicException] { TopicCatalog.createTopic(spark, wh, "x", 0) }
    intercept[InvalidTopicException] { TopicCatalog.createTopic(spark, wh, "x", 1, 4) }
    intercept[UnknownTopicException] { TopicCatalog.numPartitions(spark, wh, "nope") }
  }

  test("append assigns dense gapless per-partition offsets; poll returns them in order") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 4)
    val res = LogWriter.append(spark, wh, "t", someRecords(1000), "id")
    assert(res.records === 1000)

    val all = LogReader.scan(spark, wh, "t")
    assert(all.count() === 1000)
    // dense + gapless per partition: offsets are exactly 0..count-1
    val perPart = all.groupBy($"partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"),
        max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    assert(perPart.nonEmpty)
    perPart.foreach { r =>
      val (n, lo, hi, d) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo === 0L, "min offset 0")
      assert(hi === n - 1, "max = n-1")
      assert(d === n, "distinct = n")
    }
    // same key always lands on the same partition (murmur2 routing)
    val keyParts = all.groupBy($"key").agg(countDistinct($"partition").as("np")).collect()
    keyParts.foreach(r => assert(r.getLong(1) === 1L))

    // poll a slice: strictly offset-sequential from the requested offset
    val part = all.filter($"offset" === 0).select("partition").head().getInt(0)
    val polled = LogReader.poll(spark, wh, "t", part, 3, 10).collect()
    val offs = polled.map(_.getAs[Long]("offset")).toSeq
    assert(offs === (3L until 3L + offs.length))
  }

  test("assignOffsets: two-pass numbering matches rank semantics with bases") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (i.toLong, i % 5, s"v$i"))
      .toDF("id", "explicit_partition", "value")
    val out = LogWriter.assignOffsets(
      df, $"explicit_partition", lit(null).cast("string"), $"id",
      numPartitions = 5, bases = Map(0 -> 10L, 2 -> 5L))
    val got = out.select($"id", $"partition", $"offset").collect()
    assert(got.length === 5000)
    got.foreach { r =>
      val (id, p, off) = (r.getLong(0), r.getInt(1), r.getLong(2))
      assert(p === (id % 5).toInt)
      val base = Map(0 -> 10L, 2 -> 5L).getOrElse(p, 0L)
      // rank of id within its partition (ids p, p+5, p+10, ...) is id/5
      assert(off === base + id / 5,
        s"id=$id p=$p: expected ${base + id / 5}, got $off")
    }
  }

  test("second append continues offsets from the committed end") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t", someRecords(100), "id")
    val ends1 = LogIndex.nextOffsets(spark, wh, "t")
    LogWriter.append(spark, wh, "t", someRecords(100), "id")
    val all = LogReader.scan(spark, wh, "t")
    assert(all.count() === 200)
    val perPart = all.groupBy($"partition")
      .agg(count(lit(1)).as("n"), max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    perPart.foreach { r =>
      val (n, hi, d) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(d === n, "still dense after second append")
      assert(hi === n - 1, "still gapless after second append")
    }
    assert(ends1.values.sum === 100)
  }

  test("replayed batchId is skipped (exactly-once)") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 2)
    val r1 = LogWriter.append(spark, wh, "t", someRecords(50), "id", batchId = Some(7L))
    val r2 = LogWriter.append(spark, wh, "t", someRecords(50), "id", batchId = Some(7L))
    assert(r1.records === 50)
    assert(r2.records === 0)
    assert(LogReader.scan(spark, wh, "t").count() === 50)
  }

  test("explicit partition wins over key routing; keyless round-robins in range") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 8)
    val recs = someRecords(64).withColumn("explicit_partition", lit(3))
    LogWriter.append(spark, wh, "t", recs, "id")
    val parts = LogReader.scan(spark, wh, "t").select("partition").distinct().collect()
    assert(parts.map(_.getInt(0)).toSeq === Seq(3))

    val wh2 = freshWarehouse()
    TopicCatalog.createTopic(spark, wh2, "t", 4)
    LogWriter.append(spark, wh2, "t", someRecords(100, keyed = false), "id")
    val spread = LogReader.scan(spark, wh2, "t")
      .groupBy("partition").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(spread.keySet === Set(0, 1, 2, 3)) // id % 4 spreads evenly
    spread.values.foreach(v => assert(v === 25L))
  }

  test("a keyless record with a null ord fails before anything is staged, on both paths") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", LongType),
      StructField("key", StringType), StructField("value", StringType)))
    val rows = Seq(Row(1L, 1L, "k", "a"), Row(null, 2L, null, "b"), Row(3L, 3L, null, "c"))
    Seq("driver" -> spark.createDataFrame(rows.asJava, schema),
      "spark" -> spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
      .foreach { case (path, df) =>
        val wh = freshWarehouse()
        TopicCatalog.createTopic(spark, wh, "t", 2)
        val e = intercept[IllegalArgumentException](LogWriter.append(spark, wh, "t", df, "id"))
        assert(e.getMessage.contains("null `id`"), s"$path path: ${e.getMessage}")
        val staged = Option(new java.io.File(wh.logDir("t")).list()).toSeq.flatten
          .filter(_.startsWith("partition="))
        assert(staged.isEmpty, s"$path path left $staged")
        assert(LogIndex.entries(spark, wh, "t").isEmpty)
      }
  }

  test("a local batch appends with no Spark job; parquet and range frames take the Spark path") {
    def rows(wh: Warehouse, topic: String) =
      LogReader.scan(spark, wh, topic)
        .select("partition", "offset", "ts", "key", "value").as[(Int, Long, Long, String, String)]
        .collect().sorted.toSeq
    val wh = freshWarehouse()
    val local = someRecords(10000)
    TopicCatalog.createTopic(spark, wh, "local", 4)
    val (res, stats) = JobStats.measure(spark.sparkContext)(
      LogWriter.append(spark, wh, "local", local, "id"))
    assert(res.records === 10000)
    assert(stats.jobs === 0, s"the local append ran ${stats.jobs} jobs")
    val expected = rows(wh, "local")

    val dir = tmpDir("graft-append-input")
    local.write.mode("overwrite").parquet(dir)
    val range = spark.range(0, 10000).select(col("id"), (lit(1700000000000L) + col("id")).as("ts"),
      concat(lit("k"), (col("id") % 7).cast("string")).as("key"),
      concat(lit("v"), col("id").cast("string")).as("value"))
    Seq("parquet" -> spark.read.parquet(dir), "range" -> range).foreach { case (topic, df) =>
      TopicCatalog.createTopic(spark, wh, topic, 4)
      val (r, s) = JobStats.measure(spark.sparkContext)(LogWriter.append(spark, wh, topic, df, "id"))
      assert(s.jobs > 0, s"the $topic frame ran no Spark job")
      assert(r === res.copy(topic = topic))
      assert(rows(wh, topic) === expected, s"$topic rows differ from the driver path's")
    }
  }

  test("driver contract: entry() returns rows on sf0.001; every query has distinct column names") {
    assert(SparkEntry.entry(spark).count() > 0)
    // driver's compare sorts columns by name — duplicate names would break it
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, "/root/testdata/sf0.001").columns
      assert(cols.distinct.length === cols.length, s"$name has duplicate columns")
    }
    // every oracle key must have a matching query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("topics register as SQL views over the indexed scan") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "ev", 2)
    LogWriter.append(spark, wh, "ev", someRecords(40), "id")
    val views = TopicCatalog.registerViews(spark, wh)
    assert(views === Seq("topic_ev"))
    val n = spark.sql("SELECT count(*) AS n FROM topic_ev WHERE offset >= 0").head().getLong(0)
    assert(n === 40)
  }

  test("index compaction: one file, identical entries, reads unchanged") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 2)
    (0 until 5).foreach(_ => LogWriter.append(spark, wh, "t", someRecords(40), "id"))
    def indexFiles(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(wh.indexDir("t"))
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.listStatus(p).map(_.getPath.getName).toSeq
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    }
    assert(indexFiles().size === 5, "one delta file per append")
    val entriesBefore = graft.core.log.LogIndex.entries(spark, wh, "t").toSet
    graft.core.log.LogIndex.compactIndex(spark, wh, "t")
    assert(indexFiles().size === 1, "compacted to a single file")
    val entriesAfter = graft.core.log.LogIndex.entries(spark, wh, "t").toSet
    assert(entriesAfter === entriesBefore)
    assert(LogReader.scan(spark, wh, "t").count() === 200)
    // appends keep working and continue offsets after the rewrite
    val r = LogWriter.append(spark, wh, "t", someRecords(40), "id")
    assert(r.records === 40)
    assert(LogReader.scan(spark, wh, "t").count() === 240)
  }

  test("index auto-compaction: past 64 uncompacted deltas, checksum sidecars not counted") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 1)
    val dir = new java.io.File(wh.indexDir("t"))
    def deltas(): Int = dir.list().count(n => n.startsWith("delta-") && n.endsWith(".parquet"))
    def appendOne(): Unit = LogWriter.append(spark, wh, "t", someRecords(1), "id")
    (1 to 40).foreach(_ => appendOne())
    // deltas are written through java.nio, with no sidecar: plant the
    // `.delta-*.parquet.crc` a Hadoop local write lands beside each (as an
    // older version left them) by rewriting each delta through Hadoop
    val local = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    dir.listFiles().filter(_.getName.startsWith("delta-")).foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val out = local.create(new org.apache.hadoop.fs.Path(f.toURI), true)
      try out.write(bytes) finally out.close()
    }
    assert(dir.list().count(_.endsWith(".crc")) >= 40)
    assert(deltas() === 40, "40 one-record appends leave 40 uncompacted deltas")
    assert(MetaTable.uncompacted(wh.indexDir("t")) === 40)
    (41 to 64).foreach(_ => appendOne())
    assert(deltas() === 64, "64 deltas are still within the bound")
    appendOne()
    assert(deltas() === 0 && MetaTable.uncompacted(wh.indexDir("t")) === 0,
      "the 65th delta compacts the index")
    assert(LogIndex.entries(spark, wh, "t").length === 65)
    // the snapshot the compaction left is not a delta
    appendOne()
    assert(deltas() === 1 && MetaTable.uncompacted(wh.indexDir("t")) === 1)
    assert(LogReader.scan(spark, wh, "t").count() === 66)
  }

  test("append commit is staging-scoped: unindexed files in the topic tree stay invisible") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 1)
    LogWriter.append(spark, wh, "t",
      someRecords(100).withColumn("explicit_partition", lit(0)), "id")
    // plant a stray (never-committed) file in the partition dir — the old
    // before/after tree diff would have mis-indexed anything appearing
    // concurrently; index-only discovery must ignore it entirely
    val conf = new org.apache.hadoop.conf.Configuration()
    val part = new org.apache.hadoop.fs.Path(wh.partitionDir("t", 0))
    val fs = part.getFileSystem(conf)
    val committed = fs.listStatus(part).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    val junk = new org.apache.hadoop.fs.Path(part, "junk-not-committed.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, committed.head, fs, junk, false, conf)
    LogWriter.append(spark, wh, "t",
      someRecords(100).withColumn("explicit_partition", lit(0)), "id")
    // junk is not in the index, not read, not disturbed
    assert(LogReader.scan(spark, wh, "t").count() === 200)
    assert(!LogReader.scan(spark, wh, "t").inputFiles.exists(_.contains("junk")))
    assert(LogIndex.entries(spark, wh, "t").count(_.file.contains("junk")) === 0)
    assert(fs.exists(junk))
  }

  test("admin surface: describeCluster, describeTopic, placement") {
    import graft.core.admin.Admin
    // K1/K2 queryable snapshot: at least one registered "broker" (the
    // local-mode driver) with a host and a task gauge
    val cluster = Admin.describeCluster(spark).collect()
    assert(cluster.nonEmpty)
    assert(cluster.forall(_.getAs[String]("host").nonEmpty))

    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 2)
    LogWriter.append(spark, wh, "t", someRecords(100), "id")
    LogWriter.append(spark, wh, "t", someRecords(100, keyed = true), "id")
    val desc = Admin.describeTopic(spark, wh, "t").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(desc.values.map(_._2).sum === 200, "record counts from the index")
    desc.values.foreach { case (nFiles, n, base, end) =>
      assert(nFiles >= 1)
      assert(base === 0L)
      assert(end === n - 1, "offset range matches count (dense)")
    }
    // P5: (topic, partition) -> files; every partition resolvable, ranges
    // align with the description
    val place = Admin.placement(spark, wh, "t").collect()
    assert(place.map(_.getAs[String]("file")).distinct.length === place.length)
    desc.keys.foreach { p =>
      val files = place.filter(_.getInt(0) == p)
      assert(files.nonEmpty, s"partition $p has placement")
      assert(files.map(_.getAs[Long]("n_records")).sum === desc(p)._2)
    }
    intercept[graft.core.UnknownTopicException] {
      Admin.describeTopic(spark, wh, "nope")
    }
  }

  test("poll prunes files via the index") {
    val wh = freshWarehouse()
    TopicCatalog.createTopic(spark, wh, "t", 1)
    // 5 appends → ≥5 files in partition 0
    (0 until 5).foreach { i =>
      LogWriter.append(spark, wh, "t",
        someRecords(100).withColumn("explicit_partition", lit(0)), "id")
    }
    val idx = LogIndex.entries(spark, wh, "t")
    assert(idx.length === 5)
    // polling offsets [250, 260) must touch only the file covering 200-299
    val polled = LogReader.poll(spark, wh, "t", 0, 250, 10)
    assert(polled.count() === 10)
    assert(polled.inputFiles.length === 1)
  }
}
