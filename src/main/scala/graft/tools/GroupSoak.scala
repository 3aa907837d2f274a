package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.Sessions
import graft.core.LivenessConfig
import graft.streaming.Liveness

/** Scale soak of [[Liveness.track]] (mapGroupsWithState with
  * processing-time timeouts): `members` member heartbeat stream over
  * `batches` triggers with rotating silence churn — a tenth of the fleet
  * goes quiet each trigger (a different tenth every time), times out, and
  * revives with a REBALANCE directive when its cohort beats again.
  *
  * Pins the two scale claims a 10k-member control plane needs:
  *   - STATE SIZE IS BOUNDED: the state store holds exactly one row per
  *     member ever seen — churn must not leak rows;
  *   - PER-TRIGGER COST IS FLAT: the last third's median data-trigger
  *     execution time stays within 1.5× the first third's (state growth,
  *     timeout sweep cost, or shuffle regression would all surface here).
  *
  * Driving note: with `ProcessingTimeTimeout` the engine keeps firing
  * zero-data batches to surface timeouts, so `processAllAvailable` never
  * settles — the soak instead runs a fixed 200 ms trigger, feeds one
  * heartbeat wave per interval, then waits for the sink to absorb every
  * wave and reads per-trigger costs from the query's progress events
  * (data triggers only).
  *
  * {{{ runMain graft.tools.GroupSoak [members] [batches] }}}
  * Prints one JSON line; writes LIVENESS_SOAK.json. */
object GroupSoak {
  def main(args: Array[String]): Unit = {
    val members = args.lift(0).map(_.toInt).getOrElse(10000)
    val batches = args.lift(1).map(_.toInt).getOrElse(24)
    val spark = Sessions.local("graft-group-soak")
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Liveness.Heartbeat]
    // short timeout so silence converts to timed-out state WITHIN the run
    val cfg = LivenessConfig(heartbeatIntervalMs = 200, missedThreshold = 3)
    val q = Liveness.track(spark, input.toDS(), cfg)
      .writeStream.outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .format("memory").queryName("liveness_soak")
      .start()

    val progress = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    def drainProgress(): Unit = q.recentProgress.foreach { p =>
      if (!progress.exists(_.batchId == p.batchId) && p.numInputRows > 0)
        progress += p
    }

    var expected = 0L
    try {
      for (b <- 0 until batches) {
        // rotating churn: cohort (b % 10) goes silent this trigger
        val beats = (0 until members)
          .filter(m => m % 10 != b % 10)
          .map(m => Liveness.Heartbeat(
            f"member-$m%05d", ts = b.toLong * 1000 + m, seq = b.toLong,
            partitionCount = m % 64))
        expected += beats.size
        input.addData(beats)
        // pace against absorption: each wave must land in its OWN data
        // trigger (else slow triggers merge waves and no silence gap ever
        // exceeds the timeout), then hold one timeout window so the
        // silent cohort actually times out before its next heartbeat
        val waveDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while ({ drainProgress(); progress.map(_.numInputRows).sum } < expected
            && System.nanoTime() < waveDeadline)
          Thread.sleep(100)
        Thread.sleep(cfg.timeoutMs + 300)
        if (b % 5 == 0)
          println(s"== soak wave=$b fed=${beats.size} dataTriggers=${progress.size}")
      }
      // wait until the engine has ABSORBED every fed heartbeat (slow
      // triggers may batch two waves into one, so count input rows, not
      // sink rows); the engine keeps ticking timeouts meanwhile
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def absorbed(): Long = { drainProgress(); progress.map(_.numInputRows).sum }
      while (absorbed() < expected && System.nanoTime() < deadline)
        Thread.sleep(500)
    } finally { drainProgress(); q.stop() }

    val out = spark.table("liveness_soak")
    val aliveRows = out.filter($"alive").count()
    val revived = out.filter($"revivals" > 0)
      .select("memberId").distinct().count()
    val timedOut = out.filter(!$"alive").select("memberId").distinct().count()
    val stateRows = progress.lastOption
      .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    // drop the first two data triggers (cold JIT + state-store format
    // discovery dominate them) — flatness is a steady-state claim
    val durs = progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3)
      .drop(2)
    val third = math.max(1, durs.size / 3)
    def median(xs: scala.collection.Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val early = median(durs.take(third))
    val late = median(durs.takeRight(third))
    val absorbedRows = progress.map(_.numInputRows).sum
    val ok = stateRows == members.toLong && late <= 1.5 * early &&
      timedOut > 0 && revived > 0 && absorbedRows >= expected
    val json =
      s"""{"metric":"liveness_soak","members":$members,"waves":$batches,""" +
        s""""data_triggers":${durs.size},""" +
        f""""early_median_sec":$early%.3f,"late_median_sec":$late%.3f,""" +
        s""""state_rows":$stateRows,"timed_out_members":$timedOut,""" +
        s""""revived_members":$revived,"heartbeat_rows":$aliveRows,""" +
        s""""absorbed_rows":$absorbedRows,"expected_heartbeats":$expected,"ok":$ok}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("LIVENESS_SOAK.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
