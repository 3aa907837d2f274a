package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Everything the program receives is built here
  * from the run's seed: the same seed gives the same records and documents. */
object Gen {

  /** Producer input: the columns `LogWriter.append` takes, with `seq` as the
    * intra-batch order column. */
  val recordSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = false)))

  private val Alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** The reference producer benchmark's value: 50 random uppercase
    * alphanumerics. */
  def value50(rnd: java.util.SplittableRandom): String = {
    val c = new Array[Char](50)
    var i = 0
    while (i < 50) { c(i) = Alnum.charAt(rnd.nextInt(Alnum.length)); i += 1 }
    new String(c)
  }

  /** `n` records with keys drawn by `key`, as a local frame, with their
    * key + value bytes. */
  def records(
      spark: SparkSession, rnd: java.util.SplittableRandom, n: Int, tsMs: Long)(
      key: java.util.SplittableRandom => String): (DataFrame, Long) = {
    val rows = new java.util.ArrayList[Row](n)
    var bytes = 0L
    var i = 0
    while (i < n) {
      val (k, v) = (key(rnd), value50(rnd))
      rows.add(Row(i.toLong, tsMs, k, v))
      bytes += k.length + v.length
      i += 1
    }
    (spark.createDataFrame(rows, recordSchema), bytes)
  }

  /** Zipf(s) sampler over ids [0, n): inverse CDF by binary search. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def next(rnd: java.util.SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- documents for the curation pipeline ----

  /** Word-salad vocabulary shaped like the repository's `documents` test
    * table: short technical words plus English stop words, so gopher keeps
    * most documents and rejects the short/long tails. */
  private val Vocab: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "customer", "vector", "join", "index", "shard", "record",
    "offset", "topic", "commit", "broker", "segment", "token", "chunk",
    "the", "a", "of", "and", "to", "in", "is", "with", "for", "on")

  /** Document lengths are uniform in [MinWords, MaxWords]; the curation
    * config keeps [30, 90] tokens, so roughly a quarter fail gopher. */
  private val MinWords = 12
  private val MaxWords = 99

  def document(rnd: java.util.SplittableRandom): Array[String] =
    Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(
      Vocab(rnd.nextInt(Vocab.length)))

  /** A word-level near-duplicate: each word is replaced with probability
    * `rate` (word 5-gram Jaccard to the source stays well above the LSH
    * threshold at the rate used). */
  def nearDuplicate(
      src: Array[String], rnd: java.util.SplittableRandom, rate: Double): Array[String] =
    src.map(w => if (rnd.nextDouble() < rate) Vocab(rnd.nextInt(Vocab.length)) else w)
}
