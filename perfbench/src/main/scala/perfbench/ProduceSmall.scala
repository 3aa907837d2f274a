package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.{ConsumerGroup, Negotiation}
import graft.core.log.LogWriter

/** `produce_small`: one producer thread in a closed loop, each op appending
  * 10,000 records (string keys, 50-char values: the reference's JMH op).
  * Per-append fixed cost dominates: driver jobs, planning, locks and the
  * index reload; there are no reads in the window.
  *
  * The ops alternate over two topics of 4 partitions. Append latency
  * depends on the topic's index delta count, so each topic takes
  * [[AppendsPerTopic]] appends and is then replaced by a fresh one: every
  * append sees between 0 and 7 deltas, however many appends a window holds,
  * and no append pays the 64-delta index compaction.
  *
  * After the window, outside the timed calls, one consumer-group member per
  * topic drains it (`ConsumerGroup.poll` → materialize → `commit`): every
  * produced record must be delivered exactly once and the committed offsets
  * must reach the end offsets. The traced run reports the consumer layers
  * from these calls. */
object ProduceSmall {

  val RecordsPerOp = 10000
  val Topics = 2
  val AppendsPerTopic = 8
  val Partitions = 4
  /** Distinct input batches cycled through (generated once per run). */
  val Batches = 4
  val Setups = 3
  /** Untimed appends between set-up and window: the first few appends of a
    * JVM run ~30% slow, and a window of ~10 appends must not hold them. */
  val WarmAppends = 4
  /** Per-partition poll limit of the drain: a topic's 8 appends put 20,000
    * records in each partition, so a topic takes two polls, and the second
    * reads the offsets the first committed. */
  val DrainMaxPerPartition = 10000L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val rnd = ctx.rnd(1)
    val generated = (0 until Batches).map(_ =>
      Gen.records(spark, rnd, RecordsPerOp, 1700000000000L)(r => s"key-${r.nextInt(RecordsPerOp)}"))
    var frames = generated.map(_._1)
    val userBytes = generated.map(_._2)

    val (wh, setupS) = Main.timedSetups(Setups) { i =>
      val wh = Warehouse(ctx.dir(s"wh-$i"))
      TopicCatalog.createTopic(spark, wh, "warmup", Partitions)
      LogWriter.append(spark, wh, "warmup", frames(i % Batches), "seq")
      wh
    }

    (0 until WarmAppends).foreach(i => LogWriter.append(spark, wh, "warmup", frames(i % Batches), "seq"))

    val lat = ArrayBuffer.empty[Double]
    val deltas = ArrayBuffer.empty[(String, Int, Double)]
    val topics = ArrayBuffer.empty[String]
    val produced = scala.collection.mutable.Map.empty[String, Array[Long]]
    val problems = ArrayBuffer.empty[String]
    var records = 0L
    var bytes = 0L
    var failed = 0L
    val windowStart = Tracer.nowMs()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) {
      val b = i % Batches
      // op i is the (i / Topics)-th append to its slot's topic; the slot
      // takes a fresh topic every AppendsPerTopic appends (created outside
      // the timed call)
      val generation = i / Topics / AppendsPerTopic
      val topic = s"small-${i % Topics}-$generation"
      if (!produced.contains(topic)) {
        TopicCatalog.createTopic(spark, wh, topic, Partitions)
        topics += topic
        produced(topic) = Array.fill(Partitions)(0L)
      }
      val before = if (tr.enabled) Layers.deltaFiles(wh, topic) else 0
      val t = System.nanoTime()
      try {
        val res = tr.span("log.append") {
          LogWriter.append(spark, wh, topic, frames(b), "seq")
        }
        val ms = Main.msSince(t)
        lat += ms
        deltas += ((topic, before, ms))
        records += res.records
        bytes += userBytes(b)
        res.ranges.foreach { case (p, (lo, hi)) =>
          if (lo != produced(topic)(p))
            problems += s"$topic/$p: append range starts at $lo, expected ${produced(topic)(p)}"
          produced(topic)(p) = hi + 1
        }
        if (res.records != RecordsPerOp)
          problems += s"$topic: append reported ${res.records} records, expected $RecordsPerOp"
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"append to $topic failed: $e"
      }
      i += 1
    }
    val windowMs = Main.msSince(t0)
    frames = null
    val heap = Main.liveHeapMb()

    topics.foreach { topic =>
      val v = Admin.verifyTopic(spark, wh, topic, deep = true)
      if (!v.ok) problems += s"verifyTopic $topic: ${v.summary}"
      val ends = Admin.endOffsets(spark, wh, topic)
      (0 until Partitions).foreach { p =>
        if (ends.getOrElse(p, 0L) != produced(topic)(p))
          problems += s"$topic/$p: end offset ${ends.getOrElse(p, 0L)} != ${produced(topic)(p)} records produced"
      }
    }

    val drained = drain(ctx, wh, topics.toSeq, produced.toMap)
    problems ++= drained.problems

    tr.sync()
    val appendS = lat.sum / 1000
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else Layers.append(tr, wh, topics.toSeq, tr.spansNamed("log.append"), records, bytes, deltas.toSeq) ++
        Consume.layers(tr, drained.polls, drained.filesPerPoll,
          Stats.mean(topics.toSeq.map(t => Consume.offsetFiles(wh, s"drain-$t").toDouble))) +
        ("groups.dup_records" -> drained.dupRecords.toDouble)
    Outcome(
      setupS = setupS,
      latencyMs = Stats.median(lat.toSeq),
      recordsPerS = records / appendS.max(1e-9),
      liveHeapMb = heap,
      attempted = i.toLong,
      failed = failed,
      problems = problems.toSeq,
      report = Map(
        "append_ms" -> Stats.summary(lat.toSeq),
        "produce_records_per_s" -> records / appendS.max(1e-9),
        "records" -> records,
        "topics" -> topics.size,
        "drain_poll_ms" -> Stats.summary(drained.pollMs),
        "drain_commit_ms" -> Stats.summary(drained.commitMs),
        "dup_records" -> drained.dupRecords) ++
        (if (tr.enabled) Map("appends_delta_files_ms" -> deltas.map(d => Seq(d._2, d._3)))
         else Map.empty),
      layers = layers,
      windowMs = windowMs,
      windowStartMs = windowStart)
  }

  private final case class Drained(
      polls: Long, pollMs: Seq[Double], commitMs: Seq[Double], filesPerPoll: Seq[Double],
      dupRecords: Long, problems: Seq[String])

  /** Drain each topic with its own group's only member, committing the next
    * offsets every poll returns, until the group has every produced record. */
  private def drain(
      ctx: Ctx, wh: Warehouse, topics: Seq[String], produced: Map[String, Array[Long]]): Drained = {
    val pollMs = ArrayBuffer.empty[Double]
    val commitMs = ArrayBuffer.empty[Double]
    val files = ArrayBuffer.empty[Double]
    val problems = ArrayBuffer.empty[String]
    var dup = 0L
    topics.foreach { topic =>
      val group = s"drain-$topic"
      val m = ConsumerGroup.subscribe(ctx.spark, wh, group,
        Seq(Negotiation.Member("member-0", Seq("range"))), Seq(topic)).head
      val want = produced(topic)
      val coverage = new Consume.Coverage(Partitions)
      def caughtUp = (0 until Partitions).forall(p => coverage.prefixEnd(p) >= want(p))
      var progress = true
      while (!caughtUp && progress) {
        val polled = Consume.poll(ctx, wh, group, m, topic, DrainMaxPerPartition)
        pollMs += polled.ms
        if (ctx.tracer.enabled) files += polled.files
        progress = polled.rows.nonEmpty
        dup += (if (progress) coverage.add(polled.rows) else 0L)
        if (progress) commitMs += Consume.commit(ctx, wh, group, topic, polled.next)
      }
      val missing = (0 until Partitions).map(p => want(p) - coverage.prefixEnd(p)).sum
      if (missing > 0) problems += s"$topic: $missing produced records never delivered to $group"
      val committed = ConsumerGroup.committed(ctx.spark, wh, group, topic)
      (0 until Partitions).foreach { p =>
        if (committed.getOrElse(p, 0L) != want(p))
          problems += s"$group: committed ${committed.getOrElse(p, 0L)} on $topic/$p, expected ${want(p)}"
      }
    }
    if (dup > 0) problems += s"the drain delivered $dup records more than once"
    Drained(pollMs.size.toLong, pollMs.toSeq, commitMs.toSeq, files.toSeq, dup, problems.toSeq)
  }
}
