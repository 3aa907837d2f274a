package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{col, lit}

import graft.pipeline.{PlanUtil, StageTimers}

class JobStatsSpec extends SparkSpec {
  private def sc = spark.sparkContext

  test("measure counts the body's jobs and executed tasks, read with no sleep") {
    val (n, js) = JobStats.measure(sc)(sc.parallelize(1 to 8, 4).count())
    assert(n == 8)
    assert(js.jobs == 1 && js.tasks == 4, js)
    assert(js.records.size == 1 && js.records.head.phase == "", js)
  }

  test("concurrent phases under one capture tag their own jobs") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // both phases are open before either submits a job, every round: a
    // single driver-wide "current phase" would tag both with the last one
    val inPhase = new CyclicBarrier(2)
    def run(phase: String)(job: => Long): Future[Unit] = Future {
      (1 to 3).foreach { _ =>
        StageTimers.timed(phase) {
          inPhase.await(30, TimeUnit.SECONDS)
          job
        }
      }
    }
    try {
      val (_, js) = JobStats.measure(sc) {
        StageTimers.capture {
          val a = run("a")(sc.parallelize(1 to 8, 2).count())
          // b shuffles: 3 map and 3 reduce tasks per job
          val b = run("b")(sc.parallelize(1 to 8, 3).groupBy((_: Int) % 2, 3).count())
          Await.result(a.zip(b), 2.minutes)
        }
      }
      assert(js.jobs == 6 && js.tasks == 3 * 2 + 3 * 6, js)
      val phase = js.perPhase.toMap
      assert(phase.keySet == Set("a", "b"), js)
      assert(phase("a").jobs == 3 && phase("a").tasks == 6, js)
      assert(phase("b").jobs == 3 && phase("b").tasks == 18, js)
      assert(phase("a").shuffleWriteBytes == 0 && phase("b").shuffleWriteBytes > 0, js)
      // every task is tagged with its job's phase: the phases sum to the totals
      val w = phase.values
      assert(w.map(_.jobs).sum == js.jobs && w.map(_.tasks).sum == js.tasks, js)
      assert(w.map(_.cpuNs).sum == js.total.cpuNs && js.total.cpuNs > 0, js)
      assert(w.map(_.shuffleReadBytes).sum == js.total.shuffleReadBytes, js)
      assert(w.map(_.shuffleWriteBytes).sum == js.total.shuffleWriteBytes, js)
      // the two phases submit from different lines: each call site
      // carries its own phase
      assert(js.records.groupBy(_.site).values.map(_.map(_.phase).toSet)
        .toSet == Set(Set("a"), Set("b")), js)
    } finally pool.shutdown()
  }

  test("with capture off, timed sets no phase property") {
    val (seen, js) = JobStats.measure(sc) {
      StageTimers.timed("off") {
        sc.parallelize(1 to 4, 2).count()
        sc.getLocalProperty(StageTimers.PhaseProp)
      }
    }
    assert(seen == null)
    assert(js.records.map(_.phase) == Seq(""), js)
    // inside a capture the property is set, then restored on exit
    val (inner, _) = StageTimers.capture {
      StageTimers.timed("on")(sc.getLocalProperty(StageTimers.PhaseProp))
    }
    assert(inner == "on")
    assert(sc.getLocalProperty(StageTimers.PhaseProp) == null)
  }

  test("measure counts generated-class compiles: a fresh projection compiles, its repeat none") {
    // a literal no earlier plan carries: primitive literals are inlined,
    // so the generated source is new to the JVM-wide codegen cache
    val k = System.nanoTime()
    def run() = spark.range(4).select(col("id") * lit(k) + lit(1L)).collect()
    val (_, first) = JobStats.measure(sc)(run())
    assert(first.compiles > 0, first)
    val (_, again) = JobStats.measure(sc)(run())
    assert(again.compiles == 0, again)
  }

  test("a shuffle reports its written and read bytes; a narrow job none") {
    val (_, wide) = JobStats.measure(sc)(sc.parallelize(1 to 100, 4).groupBy(_ % 5).count())
    assert(wide.total.shuffleWriteBytes > 0 && wide.total.shuffleReadBytes > 0, wide)
    val (_, narrow) = JobStats.measure(sc)(sc.parallelize(1 to 100, 4).count())
    assert(narrow.total.shuffleWriteBytes == 0 && narrow.total.shuffleReadBytes == 0, narrow)
  }

  /** A SQL action whose planning takes whole milliseconds: 200 projected
    * expressions to analyze and optimize. */
  private def wideAction(s: org.apache.spark.sql.SparkSession) =
    s.range(10).select((1 to 200).map(i => (col("id") + lit(i)).as(s"c$i")): _*).collect()

  test("a SQL action reports its planning time; a bare RDD job none") {
    val (_, sql) = JobStats.measure(sc)(wideAction(spark))
    assert(sql.planMs > 0, sql)
    val (_, rdd) = JobStats.measure(sc)(sc.parallelize(1 to 8, 2).count())
    assert(rdd.planMs == 0, rdd)
  }

  test("an action planned on the batch-local clone adds to the planning time") {
    // a QueryExecutionListener registers on one session and would miss it
    val clone = PlanUtil.batchLocalSession(spark)
    val (_, js) = JobStats.measure(sc)(wideAction(clone))
    assert(js.planMs > 0, js)
  }
}
