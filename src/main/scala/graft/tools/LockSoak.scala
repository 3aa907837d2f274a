package graft.tools

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.Sessions
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.log.{LogReader, LogWriter}

/** Concurrent multi-JVM appender soak for the cross-job lock manager
  * ([[graft.core.Locks]]): the SIGKILL specs prove per-partition write
  * safety for one contended set; this runs `appenders` SEPARATE JVMs
  * (real processes — the exclusion under test is the kernel file lock,
  * not the in-process stripe table) appending `rounds` batches each into
  * ONE topic, alternating between
  *
  *   - DISJOINT partition sets (worker w pins partitions {2w, 2w+1} via
  *     `explicit_partition` — these appends may run fully in parallel),
  *   - OVERLAPPING free-routed appends (every worker locks every
  *     partition — serialized by the per-partition locks, the reference's
  *     `PartitionWriteManager` semantics lifted across JVMs); every other
  *     overlapping round hands its rows over as a local frame, so both
  *     append paths (Spark and driver) run under contention.
  *
  * Two READER JVMs poll the topic THROUGHOUT (unlocked, as readers are),
  * one of them SIGKILLed while appends are still live. Every successful
  * poll must observe only dense committed prefixes: per-partition offsets
  * dense and gapless from 0 (a torn read of an in-flight append — a
  * written file visible before its index row, an index listing torn by a
  * compaction's snapshot rename and deletes — would gap or duplicate), and the
  * per-partition high watermark never regresses across polls (committed
  * data must never transiently vanish while an index snapshot installs).
  *
  * Post-run, the parent oracle-checks the merged log:
  *
  *   - per-partition offsets are DENSE and GAPLESS from 0 (two appends
  *     racing one partition without exclusion would interleave offset
  *     assignment and collide or gap);
  *   - no (partition, offset) collision;
  *   - NO LOST BATCHES: every (worker, round) batch is fully present —
  *     exactly `perBatch` records each, totalling
  *     appenders × rounds × perBatch rows;
  *   - zero torn reads across every reader poll (the killed reader's
  *     atomically-stamped last state included).
  *
  * {{{ runMain graft.tools.LockSoak [stateDir] [rounds] [appenders] }}}
  * Writes one JSON line and LOCK_SOAK.json. */
object LockSoak {

  private val Topic = "contest"
  private val PerBatch = 250
  private val StopFile = "__soak_stop"

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--worker")) worker(args.drop(1))
    else if (args.headOption.contains("--reader")) readerMain(args.drop(1))
    else parent(args)

  /** One polling reader JVM: `--reader <stateDir> <readerId>`. Loops until
    * the parent drops the stop file; stamps (polls, torn) atomically after
    * EVERY poll so a SIGKILL mid-poll still leaves a consistent count. */
  private def readerMain(args: Array[String]): Unit = {
    val stateDir = args(0)
    val rid = args(1).toInt
    val spark = Sessions.local(s"graft-lock-soak-r$rid", 4)
    val wh = Warehouse(stateDir)
    val stop = java.nio.file.Paths.get(stateDir, StopFile)
    val out = java.nio.file.Paths.get(stateDir, s"reader_$rid.json")
    val prevHi = scala.collection.mutable.Map.empty[Int, Long]
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
        // dense committed prefix: 0..n-1, no collisions
        if (!(lo == 0L && hi == n - 1 && d == n)) bad = true
        // committed data never regresses (an index rewrite must never show
        // a shorter log than an earlier poll saw)
        if (hi < prevHi.getOrElse(p, -1L)) bad = true
        prevHi(p) = math.max(hi, prevHi.getOrElse(p, -1L))
      }
      polls += 1
      if (bad) torn += 1
      val tmp = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(stateDir), s".reader_$rid", ".tmp")
      java.nio.file.Files.write(tmp,
        s"""{"reader":$rid,"polls":$polls,"torn":$torn}""".getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, out,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    spark.stop()
    println(s"READER_DONE $rid polls=$polls torn=$torn")
  }

  /** One appender JVM: `--worker <stateDir> <workerId> <rounds>`. */
  private def worker(args: Array[String]): Unit = {
    val stateDir = args(0)
    val wid = args(1).toInt
    val rounds = args(2).toInt
    val spark = Sessions.local(s"graft-lock-soak-w$wid", 8)
    val wh = Warehouse(stateDir)
    for (r <- 0 until rounds) {
      val base = (wid.toLong * 1000000L + r.toLong) * 10000L
      val df = spark.range(0, PerBatch.toLong).select(
        (col("id") + lit(base)).as("ord"),
        concat(lit(s"$wid:$r:"), col("id")).as("key"),
        concat(lit(s"$wid:$r:"), col("id")).as("value"))
      if (r % 2 == 0)
        // disjoint leg: pin this worker's partition pair; only those two
        // locks are taken, so the four workers append concurrently
        LogWriter.append(spark, wh, Topic,
          df.withColumn("explicit_partition",
            (lit(2 * wid) + pmod(col("ord"), lit(2L))).cast("int")),
          "ord", partitions = Some(Seq(2 * wid, 2 * wid + 1)))
      else
        // overlapping leg: free hash routing — every partition locked,
        // the full-contention shape. Every other time the same rows come
        // as a local frame, so the driver append path runs under
        // contention too.
        LogWriter.append(spark, wh, Topic,
          if (r % 4 == 3) spark.createDataFrame(df.collect().toSeq.asJava, df.schema) else df,
          "ord")
      ()
    }
    spark.stop()
    println(s"WORKER_DONE $wid")
  }

  private def parent(args: Array[String]): Unit = {
    val stateDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-lock-soak").toString)
    val rounds = args.lift(1).map(_.toInt).getOrElse(24)
    val appenders = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = Sessions.local("graft-lock-soak")
    val wh = Warehouse(stateDir)
    TopicCatalog.createTopic(spark, wh, Topic, 2 * appenders)

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
    // clear stale reader/stop state from a reused dir
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(stateDir, StopFile))
    (0 until 2).foreach(r => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(stateDir, s"reader_$r.json")))
    val t0 = System.nanoTime()
    def spawn(role: String, id: Int, extra: Seq[String]): Process = {
      val cmd = Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx4g", "-cp", System.getProperty("java.class.path"),
        "graft.tools.LockSoak", role, stateDir, id.toString) ++ extra
      new ProcessBuilder(cmd.asJava)
        .redirectErrorStream(true)
        .redirectOutput(new java.io.File(
          s"/tmp/lock_soak_${role.drop(2).take(1)}$id.log"))
        .start()
    }
    // readers start FIRST so early appends are observed too
    val readers = (0 until 2).map(r => r -> spawn("--reader", r, Nil))
    val procs = (0 until appenders).map(wid =>
      wid -> spawn("--worker", wid, Seq(rounds.toString)))
    // the kill leg: as soon as the FIRST of ALL appenders exits (appends
    // still live from the rest), SIGKILL reader 1 — whatever poll it is
    // inside dies mid-flight; its last atomically-stamped counts must
    // still be consistent and torn-free. Keyed on anyOf over every
    // appender's onExit, NOT on wid 0's sequential waitFor: if wid 0
    // happened to finish LAST, the old trigger fired after all appends
    // were done and the "killed while appends are live" premise silently
    // lapsed (r17 advice). aliveAtKill stamps how many appenders were
    // still running at the kill instant — the premise, made observable.
    @volatile var aliveAtKill = -1
    val killer = java.util.concurrent.CompletableFuture
      .anyOf(procs.map(_._2.onExit()): _*)
      .thenRun { () =>
        aliveAtKill = procs.count(_._2.isAlive)
        readers(1)._2.destroyForcibly()
        ()
      }
    val exits = procs.map { case (wid, p) =>
      val done = p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) p.destroyForcibly()
      wid -> (if (done) p.exitValue() else -1)
    }.toMap
    // every appender has exited (or was destroyed) by now, so the anyOf
    // stage has fired — join cannot block
    killer.join()
    // appends done: stop the surviving reader and wait for a clean exit
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stateDir, StopFile), Array.empty[Byte])
    val reader0Clean = readers(0)._2.waitFor(
      5, java.util.concurrent.TimeUnit.MINUTES) &&
      readers(0)._2.exitValue() == 0
    readers(1)._2.waitFor(1, java.util.concurrent.TimeUnit.MINUTES)
    val wallSec = (System.nanoTime() - t0) / 1e9
    // reader oracles: both stamp files are atomically replaced per poll,
    // so the killed reader's file is its last CONSISTENT state
    def readerStats(rid: Int): (Long, Long) = {
      val p = java.nio.file.Paths.get(stateDir, s"reader_$rid.json")
      if (!java.nio.file.Files.exists(p)) (0L, 0L)
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def field(k: String): Long =
          s.split(s""""$k":""")(1).takeWhile(_.isDigit).toLong
        (field("polls"), field("torn"))
      }
    }
    val (polls0, torn0) = readerStats(0)
    val (polls1, torn1) = readerStats(1)
    val readerPolls = polls0 + polls1
    val tornReads = torn0 + torn1

    // --- the offsets oracle over the merged log ---
    val scan = LogReader.scan(spark, wh, Topic)
      .select(col("partition"), col("offset"), col("value")).persist()
    val total = scan.count()
    val perPart = scan.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"),
        max("offset").as("hi"),
        countDistinct("offset").as("distinct_offsets"))
      .collect()
    // columns: partition, n, lo, hi, distinct_offsets — dense gapless
    // from 0 means lo == 0, hi == n-1, and no (partition, offset) collision
    val dense = perPart.forall { r =>
      r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1 &&
        r.getLong(4) == r.getLong(1)
    }
    // batch completeness: every (worker, round) prefix appears PerBatch times
    val perBatchCounts = scan
      .select(substring_index(col("value"), ":", 2).as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("n")).collect()
    val expectedBatches = appenders * rounds
    val complete = perBatchCounts.length == expectedBatches &&
      perBatchCounts.forall(_.getLong(1) == PerBatch.toLong)
    scan.unpersist()
    // end-state integrity audit (deep: on-disk per-file counts vs index)
    val integrity = graft.core.admin.Admin.verifyTopic(
      spark, wh, Topic, deep = true)
    if (!integrity.ok) System.err.println(s"== integrity: ${integrity.summary}")
    val expectedTotal = appenders.toLong * rounds * PerBatch
    val ok = exits.values.forall(_ == 0) && total == expectedTotal &&
      dense && complete && reader0Clean && readerPolls > 0 &&
      tornReads == 0 && integrity.ok
    val exitsJson = exits.toSeq.sortBy(_._1)
      .map { case (w, e) => s""""w$w":$e""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"lock_soak","appenders":$appenders,"rounds":$rounds,""" +
        s""""per_batch":$PerBatch,"rows":$total,"expected_rows":$expectedTotal,""" +
        s""""dense_gapless":$dense,"batches_complete":$complete,""" +
        s""""readers":2,"reader_polls":$readerPolls,"torn_reads":$tornReads,""" +
        s""""killed_reader_polls":$polls1,"reader0_clean":$reader0Clean,""" +
        s""""appenders_live_at_kill":$aliveAtKill,""" +
        s""""integrity_ok":${integrity.ok},""" +
        f""""wall_sec":$wallSec%.1f,"worker_exits":$exitsJson,"ok":$ok}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("LOCK_SOAK.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    println(json)
    if (!ok) sys.exit(1)
  }
}
