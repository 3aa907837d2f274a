package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built: every main, the bench and
  * the test session share its settings instead of each repeating them.
  *   - shuffle partitions = cores (the local scheduler's parallelism);
  *   - UTC session time zone;
  *   - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), read as long
  *     nanos;
  *   - no UI, log level WARN. */
object Sessions {

  /** `$SPARK_GRAFT_CPUS`, else this machine's processor count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(app: String, cores: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
