package graft

import java.util.concurrent.{CyclicBarrier, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.core._
import graft.core.catalog.{TopicCatalog, Warehouse}

class CatalogSpec extends SparkSpec {

  test("topic names must be path-safe and must not collide with staging suffixes") {
    val wh = Warehouse(tmpDir("graft-names"))
    // legal: alnum start, then alnum . _ -
    TopicCatalog.createTopic(spark, wh, "ok-topic.v1_2", 1)
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, "x_rewrite", 1) // index staging suffix
    }
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, "x_old", 1) // swap aside-dir suffix
    }
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, "a/b", 1) // path separator
    }
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, "../escape", 1)
    }
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, "_hidden", 1) // Spark ignores _ paths
    }
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, ".dot", 1)
    }
    intercept[InvalidTopicException] {
      TopicCatalog.createTopic(spark, wh, "sp ace", 1)
    }
  }

  test("catalog heal: a crash between swap renames cannot orphan the registry") {
    val wh = Warehouse(tmpDir("graft-cat-heal"))
    TopicCatalog.createTopic(spark, wh, "a", 1)
    TopicCatalog.createTopic(spark, wh, "b", 1)
    // simulate deleteTopic crashing mid-swap: live registry renamed aside,
    // rewrite fully written (reuse the live content), aside dir present
    val conf = new org.apache.hadoop.conf.Configuration()
    val live = new org.apache.hadoop.fs.Path(wh.catalogDir)
    val fs = live.getFileSystem(conf)
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(s"${wh.catalogDir}_rewrite")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${wh.catalogDir}_old"))
    // the next catalog read heals: every topic still registered
    assert(TopicCatalog.topics(spark, wh).count() === 2)
    assert(TopicCatalog.exists(spark, wh, "a") && TopicCatalog.exists(spark, wh, "b"))
    assert(fs.exists(live), "registry restored as live")
  }

  /** Runs `calls` at once — each waits at a barrier until all have started —
    * and returns when every one has returned (rethrowing the first failure). */
  private def race(calls: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(calls.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(calls.size)
    try Await.result(Future.sequence(calls.map(c => Future { barrier.await(); c() })), 120.seconds)
    finally pool.shutdown()
  }

  private def registered(wh: Warehouse): Set[String] =
    TopicCatalog.topics(spark, wh).collect().map(_.getString(0)).toSet

  test("8 concurrent creates of distinct topics all return and all register") {
    (0 until 5).foreach { round =>
      val wh = Warehouse(tmpDir(s"graft-cat-creates-$round"))
      val names = (0 until 8).map(i => s"t$i")
      race(names.map(n => () => { TopicCatalog.createTopic(spark, wh, n, 1); () }))
      assert(registered(wh) === names.toSet, s"round $round")
      assert(names.forall(TopicCatalog.exists(spark, wh, _)), s"round $round")
    }
  }

  test("4 creates racing 4 deletes: every created topic registered, no deleted one") {
    (0 until 5).foreach { round =>
      val wh = Warehouse(tmpDir(s"graft-cat-create-delete-$round"))
      val doomed = (0 until 4).map(i => s"d$i")
      val fresh = (0 until 4).map(i => s"c$i")
      doomed.foreach(TopicCatalog.createTopic(spark, wh, _, 2))
      race(fresh.map(n => () => { TopicCatalog.createTopic(spark, wh, n, 2); () }) ++
        doomed.map(n => () => TopicCatalog.deleteTopic(spark, wh, n)))
      assert(registered(wh) === fresh.toSet, s"round $round")
    }
  }
}
