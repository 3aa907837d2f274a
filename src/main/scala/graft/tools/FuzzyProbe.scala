package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.functions.{TextFunctions => T}
import graft.pipeline.Skew

/** Dev probe: stage-level wall breakdown of q_fuzzy_join against a
  * (possibly pre-scaled) corpus dir — isolates candidate ENUMERATION
  * (prefix join + distinct) from name/gram ATTACH, the lower-bound
  * FILTERS, and the Levenshtein VERIFY, so the grind targets the real
  * bottleneck instead of the assumed one.
  * Usage: runMain graft.tools.FuzzyProbe [dir] */
object FuzzyProbe {
  private def time(tag: String)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = body
    println(f"== $tag%-18s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("graft-fuzzy-probe")

    def names: DataFrame = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_size") <= 3 && length(col("p_name")) >= 9)
      .select(col("p_partkey").as("id"), col("p_name").as("name"),
        sort_array(T.charShingles(col("name"), 3)).as("gr"))
    def prefix: DataFrame = {
      val grams = names.select(col("id"), explode(col("gr")).as("g"))
      val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("gc"))
      grams.join(broadcast(freq), "g")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("gc"), col("g"))))
        .filter(col("r") <= 7)
        .select(col("id"), col("g"))
    }
    def cand: DataFrame = Skew.saltedJoin(
        prefix.select(col("g"), col("id").as("id_a")),
        prefix.select(col("g"), col("id").as("id_b")),
        "g", salts = 32)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .repartition(spark.sparkContext.defaultParallelism)
    def attached: DataFrame = cand
      .join(names.select(col("id").as("id_a"), col("name").as("name_a"),
        col("gr").as("gr_a")), Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("name").as("name_b"),
        col("gr").as("gr_b")), Seq("id_b"))
    def filtered: DataFrame = attached
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
      .withColumn("__absent", T.absentCount(col("gr_a"), col("gr_b")))
      .filter(col("__absent") <= 6 &&
        col("__absent") + size(col("gr_b")) - size(col("gr_a")) <= 6)
    def full: DataFrame = filtered
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)

    // warm
    full.count()
    time("pre_distinct") {
      Skew.saltedJoin(
          prefix.select(col("g"), col("id").as("id_a")),
          prefix.select(col("g"), col("id").as("id_b")),
          "g", salts = 32)
        .filter(col("id_a") < col("id_b")).count()
    }
    time("cand_distinct") { cand.count() }
    time("attached") { attached.count() }
    time("filtered") { filtered.count() }
    time("full") { full.count() }
    time("full_again") { full.count() }

    // variant: drop the post-distinct repartition — the count filter now
    // bounds DP volume per shuffled byte, so AQE's 64MB advisory keeps
    // per-task DP work bounded without a second full pair shuffle
    def candNoRepart: DataFrame = Skew.saltedJoin(
        prefix.select(col("g"), col("id").as("id_a")),
        prefix.select(col("g"), col("id").as("id_b")),
        "g", salts = 32)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    def fullNoRepart: DataFrame = candNoRepart
      .join(names.select(col("id").as("id_a"), col("name").as("name_a"),
        col("gr").as("gr_a")), Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("name").as("name_b"),
        col("gr").as("gr_b")), Seq("id_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
      .withColumn("__absent", T.absentCount(col("gr_a"), col("gr_b")))
      .filter(col("__absent") <= 6 &&
        col("__absent") + size(col("gr_b")) - size(col("gr_a")) <= 6)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
    time("full_norepart") { fullNoRepart.count() }
    time("full_norepart2") { fullNoRepart.count() }
    spark.stop()
  }
}
