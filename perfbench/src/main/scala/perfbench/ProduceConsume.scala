package perfbench

import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer

import graft.core.admin.Admin
import graft.core.catalog.{TopicCatalog, Warehouse}
import graft.core.groups.{ConsumerGroup, Negotiation}
import graft.core.log.LogWriter

/** `produce_consume`: writes beside reads.
  *
  * The producer is an open loop: one 90,000-record batch due every 4 s
  * (22.5k records/s, the reference's rate) into one 8-partition topic, keys
  * Zipf-skewed over 100k ids. Two consumer-group members (range assignor,
  * four partitions each) run closed loops: `ConsumerGroup.poll` with at most
  * 25,000 records per partition, materialize the records, commit the next
  * offsets the poll returned, back off 50 ms after an empty poll. Three load
  * threads on four cores: a change that speeds one side by taking cores from
  * the other shows here.
  *
  * Delivery latency runs from a batch's due time to the end of the poll that
  * completed each of its partition slices, so a stalled producer or consumer
  * is charged to every batch behind it. A record returned a second time is a
  * duplicate delivery, and each poll that returns one counts as a failed
  * operation; a record never returned fails the run. The consumer loop works
  * around neither. */
object ProduceConsume {

  val Topic = "pc"
  val Group = "pc-group"
  val Partitions = 8
  val BatchRecords = 90000
  val PeriodMs = 4000L
  val MaxPerPartition = 25000L
  val KeyIds = 100000
  val EmptyBackoffMs = 50L
  val DrainLimitMs = 60000L
  val Setups = 3

  private final case class Slice(partition: Int, lo: Long, hi: Long, dueMs: Double) {
    var deliveredMs: Double = Double.NaN
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val zipf = new Gen.Zipf(KeyIds, 1.0)
    val members = Seq(
      Negotiation.Member("member-0", Seq("range")), Negotiation.Member("member-1", Seq("range")))

    val ((wh, memberships), setupS) = Main.timedSetups(Setups) { i =>
      val wh = Warehouse(ctx.dir(s"wh-$i"))
      TopicCatalog.createTopic(spark, wh, Topic, Partitions)
      val ms = ConsumerGroup.subscribe(spark, wh, Group, members, Seq(Topic))
      // warm the produce → poll → commit path on a scratch topic and group
      TopicCatalog.createTopic(spark, wh, "warmup", Partitions)
      val (warm, _) = Gen.records(spark, ctx.rnd(100 + i), 10000, 1700000000000L)(r => s"id-${zipf.next(r)}")
      LogWriter.append(spark, wh, "warmup", warm, "seq")
      ConsumerGroup.subscribe(spark, wh, "warmup-group", members, Seq("warmup")).foreach { m =>
        val (df, next) = ConsumerGroup.poll(spark, wh, "warmup-group", m, "warmup", MaxPerPartition)
        df.collect()
        ConsumerGroup.commit(spark, wh, "warmup-group", "warmup", next)
      }
      (wh, ms)
    }

    // delivery bookkeeping, shared by the producer and both members (guarded by `lock`)
    val lock = new Object
    val coverage = new Consume.Coverage(Partitions)
    val slices = ArrayBuffer.empty[Slice]
    val produced = Array.fill(Partitions)(0L)
    val committed = Array.fill(Partitions)(0L)
    def lag: Long = (0 until Partitions).map(p => produced(p) - committed(p)).sum
    var dupRecords = 0L
    var deliveredRecords = 0L
    var lastDeliveryMs = 0.0
    val problems = ArrayBuffer.empty[String]
    val appendMs = ArrayBuffer.empty[Double]
    val lateMs = ArrayBuffer.empty[Double]
    val lagAtDue = ArrayBuffer.empty[Long]
    val deltas = ArrayBuffer.empty[(String, Int, Double)]
    val pollMs = ArrayBuffer.empty[Double]
    val commitMs = ArrayBuffer.empty[Double]
    val filesPerPoll = ArrayBuffer.empty[Double]
    var polls = 0L
    var emptyPolls = 0L
    var dupPolls = 0L
    var skipCommits = 0L
    var failed = 0L
    var userBytes = 0L
    val producing = new AtomicBoolean(true)

    def member(m: ConsumerGroup.Membership): Runnable = () => {
      var drainDeadline = Long.MaxValue
      var done = false
      while (!done) {
        try {
          val polled = Consume.poll(ctx, wh, Group, m, Topic, MaxPerPartition)
          val endMs = Tracer.nowMs()
          if (polled.rows.isEmpty) {
            lock.synchronized { polls += 1; emptyPolls += 1 }
            Thread.sleep(EmptyBackoffMs)
          } else {
            lock.synchronized {
              polls += 1
              pollMs += polled.ms
              if (tr.enabled) filesPerPoll += polled.files
              val dup = coverage.add(polled.rows)
              deliveredRecords += polled.rows.length - dup
              dupRecords += dup
              if (dup > 0) { dupPolls += 1; failed += 1 }
              // a next offset past the delivered prefix of one of this
              // member's own partitions skips records nobody has polled
              m.assignment.getOrElse(Topic, Nil).foreach { p =>
                if (polled.next.get(p).exists(_ > coverage.prefixEnd(p))) skipCommits += 1
              }
              slices.foreach { s =>
                if (s.deliveredMs.isNaN && coverage.isCovered(s.partition, s.lo, s.hi)) {
                  s.deliveredMs = endMs
                  lastDeliveryMs = endMs
                }
              }
            }
            val ms = Consume.commit(ctx, wh, Group, Topic, polled.next)
            lock.synchronized {
              commitMs += ms
              polled.next.foreach { case (p, o) => committed(p) = o }
            }
          }
        } catch {
          case e: Exception =>
            lock.synchronized { failed += 1; problems += s"${m.memberId}: $e" }
            Thread.sleep(EmptyBackoffMs)
        }
        if (!producing.get()) {
          if (drainDeadline == Long.MaxValue) drainDeadline = System.nanoTime() + DrainLimitMs * 1000000L
          done = lock.synchronized(slices.forall(!_.deliveredMs.isNaN)) ||
            System.nanoTime() > drainDeadline
        }
      }
    }

    val threads = memberships.map(m => new Thread(member(m), m.memberId))
    val rnd = ctx.rnd(1)
    val windowStart = Tracer.nowMs()
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    var b = 0
    while (b * PeriodMs < ctx.seconds * 1000L) {
      val (frame, bytes) = Gen.records(spark, rnd, BatchRecords, 1700000000000L + b * PeriodMs)(r =>
        s"id-${zipf.next(r)}")
      val waitMs = (t0 + b * PeriodMs * 1000000L - System.nanoTime()) / 1000000L
      if (waitMs > 0) Thread.sleep(waitMs)
      val dueMs = windowStart + b * PeriodMs
      lateMs += Tracer.nowMs() - dueMs
      lagAtDue += lock.synchronized(lag)
      val before = if (tr.enabled) Layers.deltaFiles(wh, Topic) else 0
      val ta = System.nanoTime()
      try {
        val res = tr.span("log.append") { LogWriter.append(spark, wh, Topic, frame, "seq") }
        val ms = Main.msSince(ta)
        appendMs += ms
        deltas += ((Topic, before, ms))
        userBytes += bytes
        lock.synchronized {
          res.ranges.toSeq.sortBy(_._1).foreach { case (p, (lo, hi)) =>
            if (lo != produced(p))
              problems += s"$Topic/$p: append range starts at $lo, expected ${produced(p)}"
            produced(p) = hi + 1
            val s = Slice(p, lo, hi, dueMs)
            // a member may have polled these records before they were booked
            if (coverage.isCovered(p, lo, hi)) s.deliveredMs = Tracer.nowMs()
            slices += s
          }
        }
      } catch {
        case e: Exception =>
          lock.synchronized { failed += 1; problems += s"append of batch $b failed: $e" }
      }
      b += 1
    }
    val windowLeftMs = (t0 + ctx.seconds * 1000000000L - System.nanoTime()) / 1000000L
    if (windowLeftMs > 0) Thread.sleep(windowLeftMs)
    val windowMs = Main.msSince(t0)
    producing.set(false)
    threads.foreach(_.join())
    val heap = Main.liveHeapMb()

    val undelivered = slices.filter(_.deliveredMs.isNaN)
    if (undelivered.nonEmpty)
      problems += s"${undelivered.size} partition slices (${undelivered.map(s => s.hi - s.lo + 1).sum} " +
        s"records) never delivered within ${DrainLimitMs / 1000} s after the window"
    val v = Admin.verifyTopic(spark, wh, Topic, deep = true)
    if (!v.ok) problems += s"verifyTopic: ${v.summary}"
    val ends = Admin.endOffsets(spark, wh, Topic)
    (0 until Partitions).foreach { p =>
      if (ends.getOrElse(p, 0L) != produced(p))
        problems += s"$Topic/$p: end offset ${ends.getOrElse(p, 0L)} != ${produced(p)} records produced"
    }

    val delivery = slices.filterNot(_.deliveredMs.isNaN).map(s => s.deliveredMs - s.dueMs).toSeq
    val spanMs = lastDeliveryMs - windowStart
    val backlogGrowing = lagAtDue.length >= 3 && lagAtDue.last > lagAtDue(lagAtDue.length / 2)

    tr.sync()
    val layers: Map[String, Double] = if (!tr.enabled) Map.empty else
      Layers.append(tr, wh, Seq(Topic), tr.spansNamed("log.append"), produced.sum, userBytes,
        deltas.toSeq) ++
        Consume.layers(tr, polls, filesPerPoll.toSeq, Consume.offsetFiles(wh, Group)) +
        ("groups.dup_records" -> dupRecords.toDouble)
    Outcome(
      setupS = setupS,
      latencyMs = Stats.pctOr0(delivery, 0.5),
      recordsPerS = deliveredRecords / (spanMs / 1000).max(1e-9),
      liveHeapMb = heap,
      attempted = appendMs.size + polls - emptyPolls,
      failed = failed,
      problems = problems.toSeq,
      report = Map(
        "append_ms" -> Stats.summary(appendMs.toSeq),
        "delivery_ms" -> Stats.summary(delivery),
        "poll_ms" -> Stats.summary(pollMs.toSeq),
        "commit_ms" -> Stats.summary(commitMs.toSeq),
        "gen_late_ms" -> Stats.summary(lateMs.toSeq),
        "gen_late_p90_ms" -> Stats.pctOr0(lateMs.toSeq, 0.9),
        "lag_records_p90" -> Stats.pctOr0(lagAtDue.map(_.toDouble).toSeq, 0.9),
        "batches" -> appendMs.size,
        "records_produced" -> produced.sum,
        "records_delivered_unique" -> deliveredRecords,
        "dup_records" -> dupRecords,
        "dup_share" -> dupRecords.toDouble / (deliveredRecords + dupRecords).max(1),
        "dup_polls" -> dupPolls,
        "skip_commits" -> skipCommits,
        "polls" -> polls,
        "empty_polls" -> emptyPolls,
        "lag_at_due" -> lagAtDue,
        "backlog_growing" -> backlogGrowing),
      layers = layers,
      windowMs = windowMs,
      windowStartMs = windowStart)
  }
}
