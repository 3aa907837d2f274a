package graft.tools

import org.apache.spark.sql.functions._

import graft.Sessions
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogIndex, LogReader, LogRetention, LogWriter}

/** Readers racing RETENTION: the cross-JVM soak behind the
  * reads-racing-expiry contract (LogReader.segmentFiles — expiry swaps
  * the index then deletes data files; an unlocked reader's stale file
  * list must degrade to the retained suffix, never crash or tear).
  *
  * One parent JVM appends `batches` batches into a 2-partition topic and
  * every `expireEvery`-th batch expires everything below
  * `end − keepWindow` per partition (whole-file granularity). Two READER
  * JVMs poll the topic throughout — one SIGKILLed mid-run, once it has
  * stamped a poll — asserting on EVERY successful poll, per partition:
  *
  *   - the observed offsets form one CONTIGUOUS window:
  *     `count == hi − lo + 1` with `count` distinct offsets (a torn read
  *     of a half-applied expiry or a partially visible append would gap
  *     or duplicate);
  *   - the high watermark `hi` never regresses across polls (committed
  *     data never transiently vanishes while an index snapshot installs);
  *   - the low watermark `lo` never regresses (expired data never
  *     reappears).
  *
  * Post-run the parent checks the final log is the exact retained
  * window (hi == appended − 1 per partition, contiguous, lo > 0 proving
  * expiry really ran) and that total torn reads across both readers —
  * the killed one's atomically-stamped last state included — is zero,
  * with at least one poll from the killed reader.
  *
  * {{{ runMain graft.tools.RetentionSoak [stateDir] [batches] }}}
  * Writes one JSON line and RETENTION_SOAK.json. */
object RetentionSoak {

  private val Topic = "retained"
  private val Partitions = 2
  private val PerBatch = 200
  private val KeepWindow = 1500L
  private val ExpireEvery = 4
  private val StopFile = "__soak_stop"

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--reader")) readerMain(args.drop(1))
    else parent(args)

  /** `--reader <stateDir> <readerId>`: poll until the stop file appears,
    * stamping (polls, torn) atomically after every poll. */
  private def readerMain(args: Array[String]): Unit = {
    val stateDir = args(0)
    val rid = args(1).toInt
    val spark = Sessions.local(s"graft-ret-soak-r$rid", 4)
    val wh = Warehouse(stateDir)
    val stop = java.nio.file.Paths.get(stateDir, StopFile)
    val out = java.nio.file.Paths.get(stateDir, s"ret_reader_$rid.json")
    val prevHi = scala.collection.mutable.Map.empty[Int, Long]
    val prevLo = scala.collection.mutable.Map.empty[Int, Long]
    var polls = 0
    var torn = 0
    while (!java.nio.file.Files.exists(stop)) {
      val perPart = LogReader.scan(spark, wh, Topic)
        .groupBy("partition")
        .agg(count(lit(1)).as("n"), min("offset").as("lo"),
          max("offset").as("hi"), countDistinct("offset").as("d"))
        .collect()
      var bad = false
      perPart.foreach { r =>
        val (p, n, lo, hi, d) =
          (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        // one contiguous committed window, no gaps, no duplicates
        if (!(n == hi - lo + 1 && d == n)) bad = true
        // committed data never regresses; expired data never reappears
        if (hi < prevHi.getOrElse(p, -1L)) bad = true
        if (lo < prevLo.getOrElse(p, 0L)) bad = true
        prevHi(p) = math.max(hi, prevHi.getOrElse(p, -1L))
        prevLo(p) = math.max(lo, prevLo.getOrElse(p, 0L))
      }
      polls += 1
      if (bad) torn += 1
      val tmp = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(stateDir), s".ret_reader_$rid", ".tmp")
      java.nio.file.Files.write(tmp,
        s"""{"reader":$rid,"polls":$polls,"torn":$torn}""".getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, out,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    spark.stop()
    println(s"RET_READER_DONE $rid polls=$polls torn=$torn")
  }

  private def parent(args: Array[String]): Unit = {
    val stateDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-ret-soak").toString)
    val batches = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = Sessions.local("graft-ret-soak")
    val wh = Warehouse(stateDir)
    TopicCatalog.createTopic(spark, wh, Topic, Partitions)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(stateDir, StopFile))

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    import scala.jdk.CollectionConverters._
    val readers = (0 until 2).map { rid =>
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx4g", "-cp", System.getProperty("java.class.path"),
        "graft.tools.RetentionSoak", "--reader", stateDir, rid.toString)
      rid -> new ProcessBuilder(cmd.asJava)
        .redirectErrorStream(true)
        .redirectOutput(new java.io.File(s"/tmp/ret_soak_r$rid.log"))
        .start()
    }

    // (polls, torn) as a reader last stamped them
    def readerStats(rid: Int): (Long, Long) = {
      val p = java.nio.file.Paths.get(stateDir, s"ret_reader_$rid.json")
      if (!java.nio.file.Files.exists(p)) (0L, 0L)
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def field(k: String): Long =
          s.split(s""""$k":""")(1).takeWhile(_.isDigit).toLong
        (field("polls"), field("torn"))
      }
    }

    val t0 = System.nanoTime()
    var expiries = 0
    var deletedFiles = 0
    for (b <- 0 until batches) {
      val base = b.toLong * PerBatch
      val df = spark.range(0, PerBatch.toLong).select(
        (col("id") + lit(base)).as("ord"),
        concat(lit(s"b$b:"), col("id")).as("key"),
        concat(lit(s"b$b:"), col("id")).as("value"))
      LogWriter.append(spark, wh, Topic, df, "ord")
      if (b % ExpireEvery == ExpireEvery - 1) {
        val keepFrom = LogIndex.nextOffsets(spark, wh, Topic)
          .map { case (p, end) => p -> math.max(0L, end - KeepWindow) }
        deletedFiles += LogRetention
          .expireBefore(spark, wh, Topic, keepFrom).size
        expiries += 1
      }
      // the kill leg: half-way through, with appends and expiries still
      // to come, SIGKILL reader 1 mid-whatever-poll-it-is-in — once it has
      // stamped a poll, so the kill lands on a polling reader, not a JVM
      // still starting
      if (b == batches / 2) {
        val deadline = System.nanoTime() + 5L * 60 * 1000000000L
        while (readerStats(1)._1 == 0 && readers(1)._2.isAlive &&
            System.nanoTime() < deadline) Thread.sleep(100)
        readers(1)._2.destroyForcibly()
      }
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stateDir, StopFile), Array.empty[Byte])
    val reader0Clean = readers(0)._2.waitFor(
      5, java.util.concurrent.TimeUnit.MINUTES) &&
      readers(0)._2.exitValue() == 0
    readers(1)._2.waitFor(1, java.util.concurrent.TimeUnit.MINUTES)
    val wallSec = (System.nanoTime() - t0) / 1e9

    // final-log oracle: exactly the retained contiguous window
    val perPart = LogReader.scan(spark, wh, Topic)
      .groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"),
        max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    val appended = LogIndex.nextOffsets(spark, wh, Topic)
    val windowOk = perPart.nonEmpty && perPart.forall { r =>
      val (p, n, lo, hi, d) =
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      n == hi - lo + 1 && d == n && hi == appended(p) - 1
    }
    val expiredSomething = perPart.exists(_.getLong(2) > 0L) && deletedFiles > 0

    val (polls0, torn0) = readerStats(0)
    val (polls1, torn1) = readerStats(1)
    // end-state integrity audit (deep): distinguishes the soak's LEGAL
    // prefix expiries (index rows gone with their files, chain dense
    // above the watermark) from a hole ignoreMissingFiles would mask
    val integrity = graft.core.admin.Admin.verifyTopic(
      spark, wh, Topic, deep = true)
    if (!integrity.ok) System.err.println(s"== integrity: ${integrity.summary}")
    val ok = windowOk && expiredSomething && reader0Clean &&
      polls1 > 0 && torn0 + torn1 == 0 && integrity.ok
    val json =
      s"""{"metric":"retention_soak","batches":$batches,"per_batch":$PerBatch,""" +
        s""""keep_window":$KeepWindow,"expiries":$expiries,""" +
        s""""deleted_files":$deletedFiles,"final_window_ok":$windowOk,""" +
        s""""expired_something":$expiredSomething,"readers":2,""" +
        s""""reader_polls":${polls0 + polls1},"torn_reads":${torn0 + torn1},""" +
        s""""killed_reader_polls":$polls1,"reader0_clean":$reader0Clean,""" +
        s""""integrity_ok":${integrity.ok},""" +
        f""""wall_sec":$wallSec%.1f,"ok":$ok}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("RETENTION_SOAK.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json)
    if (!ok) sys.exit(1)
  }
}
