package perfbench

import java.nio.file.{Files, Paths}

import graft.core.catalog.Warehouse

/** Per-layer metrics shared by the workloads, computed from the tracer's
  * spans and the jobs recorded under them. */
object Layers {

  /** Job-covered wall of each span (union of its jobs' intervals, clipped). */
  def jobCoveredMs(tr: Tracer, s: Tracer.Span): Double = {
    val js = tr.jobsOf(Seq(s)).filter(_.end > 0)
    Stats.unionMs(js.map(j => (math.max(j.start.toDouble, s.startMs), math.min(j.end.toDouble, s.endMs))))
  }

  /** Index delta files of a topic — the listing `IndexCache` fingerprints
    * (underscore and dot files excluded). */
  def deltaFiles(wh: Warehouse, topic: String): Int = {
    val p = Paths.get(wh.indexDir(topic))
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.count().toInt
      finally s.close()
    }
  }

  /** Committed data files under a topic's log dir (staging dot-dirs excluded). */
  def dataFiles(wh: Warehouse, topic: String): Long =
    Main.files(wh.logDir(topic)).count(f =>
      f.getFileName.toString.endsWith(".parquet") &&
        !f.toString.split("/").exists(_.startsWith("."))).toLong

  /** `log.append.*` and `log.index.delta_files_mean` over the given append
    * spans.
    *
    * @param records    records appended by those calls
    * @param userBytes  key + value bytes of those records
    * @param deltas     index delta files listed before each call, in call
    *                   order, with the topic and the call's wall time
    */
  def append(
      tr: Tracer,
      wh: Warehouse,
      topics: Seq[String],
      spans: Seq[Tracer.Span],
      records: Long,
      userBytes: Long,
      deltas: Seq[(String, Int, Double)]): Map[String, Double] = {
    val calls = spans.size.max(1).toDouble
    val js = tr.jobsOf(spans)
    val covered = spans.map(jobCoveredMs(tr, _))
    val krec = (records / 1000.0).max(1e-9)
    Map(
      "log.append.calls" -> spans.size.toDouble,
      "log.append.jobs_per_call" -> js.size / calls,
      "log.append.tasks_per_call" -> js.map(_.tasks).sum / calls,
      "log.append.job_ms_per_call" -> covered.sum / calls,
      "log.append.driver_ms_per_call" ->
        spans.zip(covered).map { case (s, c) => s.durMs - c }.sum / calls,
      "log.append.plan_ms_per_call" -> tr.planMsOf(spans) / calls,
      "log.append.cpu_ms_per_krec" -> js.map(_.cpuNs).sum / 1e6 / krec,
      "log.append.shuffle_kb_per_krec" -> js.map(_.shuffleWriteB).sum / 1024.0 / krec,
      "log.append.files_per_call" -> topics.map(dataFiles(wh, _)).sum / calls,
      "log.append.stored_bytes_per_user_byte" ->
        topics.map(t => Main.dirBytes(wh.logDir(t))).sum.toDouble / userBytes.max(1),
      "log.append.ms_per_index_delta" ->
        Stats.slope(deltas.map(_._2.toDouble), deltas.map(_._3)),
      "log.index.delta_files_mean" -> Stats.mean(deltas.map(_._2.toDouble)))
  }
}
