package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every file-source scan in an EXECUTED plan, descending into AQE
    * query stages (leaf nodes to `collect`), reused exchanges, and
    * subqueries — the traversal plain `collect` silently skips. */
  def allFileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p.collectWithSubqueries {
      case s: FileSourceScanExec => Seq(s)
      case q: QueryStageExec => allFileScans(q.plan)
      case r: ReusedExchangeExec => allFileScans(r.child)
      case a: AdaptiveSparkPlanExec => allFileScans(a.executedPlan)
    }.flatten
  }
}
