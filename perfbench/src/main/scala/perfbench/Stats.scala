package perfbench

/** Order statistics and the JSON writer for the benchmark's output. */
object Stats {

  /** Nearest-rank percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile, or 0 for an empty sample (a layer this workload does not
    * exercise reads 0 next to a 0 count). */
  def pctOr0(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else pct(xs, q)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p99/p95/p90/p75/p50 that leaves at least ten samples
    * above it, as (label, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.99 -> "p99", 0.95 -> "p95", 0.90 -> "p90", 0.75 -> "p75", 0.5 -> "p50")
      .find { case (q, _) => xs.size - math.ceil(q * xs.size) >= 10 }
      .map { case (q, label) => label -> pct(xs, q) }

  /** A timing sample for the report: median, tail and sample count. */
  def summary(xs: Seq[Double]): Map[String, Any] = Map(
    "p50" -> pctOr0(xs, 0.5), "samples" -> xs.size,
    "tail" -> tail(xs).map { case (label, v) => Map(label -> v) })

  /** Least-squares slope of y on x (0 when x does not vary). */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val mx = mean(xs); val my = mean(ys)
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  // ---- JSON ----

  private val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper().registerModule(
      com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** One-line JSON of maps, sequences, options, strings and numbers; a
    * non-finite number is written as null. */
  def json(v: Any): String = mapper.writeValueAsString(finite(v))

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => None
    case Some(x) => Some(finite(x))
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case xs: Iterable[_] => xs.map(finite)
    case other => other
  }
}
