package graft.pipeline

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.core.Memo

/** The one-row `path/meta` parquet a standing index stamps at build time
  * (its shingle/gram/bit parameters and shard count), so a probe or append
  * can never run with parameters other than the ones the index was built
  * with. */
object IndexMeta {

  /** Stamp `fields` into `path/meta` (overwrites) and drop every memo
    * cached under `path` — the index is being rebuilt. */
  def write(spark: SparkSession, path: String, fields: (String, Int)*): Unit = {
    val schema = StructType(fields.map { case (n, _) =>
      StructField(n, IntegerType, nullable = false) })
    spark.createDataFrame(java.util.List.of(Row.fromSeq(fields.map(_._2))), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Memo.invalidate(path)
  }

  /** The stamped values of `cols`, in order. Meta is immutable after
    * [[write]] (which invalidates the memo), so caching it drops the
    * meta-read driver jobs (schema + head) from EVERY probe/append: at a
    * streaming trigger of 500 ms that fixed overhead is a measurable slice
    * of the per-batch budget. */
  def read(spark: SparkSession, path: String, cols: String*): Seq[Int] =
    Memo(s"meta:${cols.mkString(",")}", path, ()) {
      val m = spark.read.parquet(s"$path/meta").select(cols.map(col): _*).head()
      cols.indices.map(m.getInt)
    }
}
