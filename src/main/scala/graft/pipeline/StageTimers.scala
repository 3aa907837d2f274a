package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Opt-in wall-clock phase timers for the fused pipeline paths.
  *
  * The probe/dedup chain is deliberately ONE lazily-evaluated plan with a
  * single materializing action ([[LshIndex.ingestBatch]]), so "how long
  * did the probe take" cannot be answered by timing sub-frames without
  * forcing extra actions (which would change the measured thing). What IS
  * separable is the chain's real actions — the fused verdict count, the
  * concurrent table appends, the survivor materialization — and those are
  * what these timers record.
  *
  * Disabled by default (a hot path must not pay a map write per batch):
  * outside [[capture]], `timed` is a bare call of its body. Inside it,
  * `timed` also sets the Spark local property [[PhaseProp]] on the calling
  * thread, so every job the phase submits carries its name to
  * [[graft.JobStats]] — per thread, so concurrent phases (the two index
  * appends of [[LshIndex]]) tag their own jobs. The wall timers are not
  * thread-safe across concurrent BATCHES (last writer wins per key) — the
  * bench's solo invocation is single-batch by construction. */
object StageTimers {
  @volatile private var enabled = false
  private val times =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Local property naming the innermost phase a job was submitted in. */
  val PhaseProp = "graft.phase"

  def timed[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.active.sparkContext
      val prev = sc.getLocalProperty(PhaseProp)
      sc.setLocalProperty(PhaseProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        times.put(name, (System.nanoTime() - t0) / 1e9)
        sc.setLocalProperty(PhaseProp, prev)
      }
    }

  /** Enable, run `body`, return (result, recorded phases), disable. */
  def capture[T](body: => T): (T, Map[String, Double]) = {
    times.clear()
    enabled = true
    try {
      val r = body
      (r, scala.jdk.CollectionConverters.MapHasAsScala(times).asScala.toMap)
    } finally {
      enabled = false
      times.clear()
    }
  }
}
