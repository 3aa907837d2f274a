package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{col, lit}

import graft.pipeline.StageTimers

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
          val b = run("b")(sc.parallelize(1 to 8, 3).count())
          Await.result(a.zip(b), 2.minutes)
        }
      }
      assert(js.jobs == 6 && js.tasks == 3 * 2 + 3 * 3, js)
      assert(js.perPhase.toMap == Map("a" -> 3, "b" -> 3), js)
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
}
