package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` helpers: wraps a Catalyst [[Expression]] into a
  * user-facing [[Column]] (and back). Spark 4 removed the public
  * `new Column(expr)` constructor; this is the supported internal path
  * (org.apache.spark.sql.classic.ExpressionUtils, columnNodeSupport.scala).
  */
object GraftInternal {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an InternalRow RDD without the external-Row round trip
    * (`SparkSession.internalCreateDataFrame` is `private[sql]`). The rows
    * must match `schema` physically; callers that transform
    * `queryExecution.toRdd` should emit projection output directly (safe
    * for immediate narrow consumption — Spark's own operators copy where
    * buffering requires it). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** [[internalCreateDataFrame]] that PRESERVES the origin frame's
    * optimizer-facing metadata: `LogicalRDD.fromDataset` carries the
    * origin's statistics, constraints, output partitioning and ordering
    * into the re-rooted leaf. Without stats a LogicalRDD defaults to
    * `spark.sql.defaultSizeInBytes` (= "huge"), so every join against a
    * truncated frame plans sort-merge and shuffles both sides — the
    * broadcast decisions the origin's cache statistics would have bought
    * are lost. With them, lineage truncation is plan-size-only. */
  def truncatedDataFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val logical = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(
      ds.sparkSession, logical)
  }

  /** `df` flagged as a streaming frame, for a V1 streaming source's
    * `getBatch`: its file relations and local relations are copied with
    * `isStreaming = true` (what `FileStreamSource` builds), so the batch
    * still plans as a parquet scan with pruning and pushdown. */
  def streamingFrame(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      ds.logicalPlan.transform {
        case r: LogicalRelation => r.copy(isStreaming = true)
        case r: LocalRelation => r.copy(isStreaming = true)
      })
  }

  /** A full state clone of `spark` — shared SparkContext, SharedState
    * (catalog, CacheManager, block manager) and a COPY of the session
    * state (conf, registered functions, temp views), so conf set on the
    * clone never leaks to the parent. `SparkSession.cloneSession()` is
    * `private[sql]`; it is the primitive Structured Streaming itself uses
    * to give each streaming query an isolated planning conf. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Re-root a frame's analyzed plan onto another session
    * (`Dataset.ofRows` is `private[sql]`) — analysis re-runs there, which
    * is a fixpoint no-op on an already-analyzed plan, and plan-keyed
    * cache lookups still hit because the CacheManager lives in the
    * SHARED state. */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)

  /** Catalyst planning time (ms) of the SQL execution `end` closes: the
    * analysis, optimization and physical-planning phases its
    * QueryExecution's tracker recorded (`qe` is `private[sql]`; 0 when the
    * event carries none). */
  def planMs(end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Long = {
    import org.apache.spark.sql.catalyst.QueryPlanningTracker._
    Option(end.qe).fold(0L) { qe =>
      val phases = qe.tracker.phases
      Seq(ANALYSIS, OPTIMIZATION, PLANNING).flatMap(phases.get).map(_.durationMs).sum
    }
  }

  /** Register a function builder on a LIVE session (the runtime counterpart
    * of `SparkSessionExtensions.injectFunction`, same registry). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
}
