package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // integrity epilogue: Admin.verifyTopic is the detection surface for
    // the read path's ignoreMissingFiles tradeoff — exercise BOTH verdicts
    // on a throwaway lifecycle (append x3, legal prefix expiry -> ok;
    // out-of-band mid-log deletion -> caught) so every driver Verify run
    // re-attests the detector itself, not just the queries. Failure is
    // printed loudly but does not fail the dump: the 119 query artifacts
    // above are independently oracle-checked, and IntegritySpec gates the
    // same logic in `sbt test`.
    try {
      import org.apache.spark.sql.functions._
      import graft.core.catalog.{TopicCatalog, Warehouse}
      import graft.core.log.{LogRetention, LogWriter}
      import graft.core.admin.Admin
      val wh = Warehouse(
        java.nio.file.Files.createTempDirectory("graft-verify-integ").toString)
      TopicCatalog.createTopic(spark, wh, "t", 1)
      (0 until 3).foreach { i =>
        LogWriter.append(spark, wh, "t",
          spark.range(0, 50).select(
            (col("id") + i * 50).as("id"),
            lit(1700000000000L).as("ts"),
            col("id").cast("string").as("key"),
            col("id").cast("string").as("value"))
            .withColumn("explicit_partition", lit(0)),
          "id")
      }
      LogRetention.expireBefore(spark, wh, "t", Map(0 -> 50L))
      val clean = Admin.verifyTopic(spark, wh, "t", deep = true)
      val victim = graft.core.log.LogIndex.entries(spark, wh, "t")
        .filter(e => e.isData && e.baseOffset == 50L).head
      val vp = new org.apache.hadoop.fs.Path(victim.file)
      graft.core.Fs(vp).delete(vp, false)
      val caught = Admin.verifyTopic(spark, wh, "t")
      System.err.println(
        s"[verify] integrity selftest: lifecycle_ok=${clean.ok} " +
          s"detector_catches=${!caught.ok && caught.missingFiles.nonEmpty}")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] integrity selftest FAILED: ${e.getMessage}")
    }
    spark.stop()
  }
}
