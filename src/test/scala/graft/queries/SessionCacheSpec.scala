package graft.queries

import java.util.concurrent.{CountDownLatch, CyclicBarrier, ExecutionException, Executors, FutureTask, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.graftest.ListenerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{broadcast, col}

/** The build-once rule of [[SessionCache]]: one build per key, no
  * caller waits for a build of another key, a failed build leaves no
  * entry, and builds nest; and what a cached frame holds: its rows, not
  * its build plan. Each test keys on a dir of its own, so no other
  * suite's entries and no rerun interfere.
  */
class SessionCacheSpec extends SparkSpec {

  private def freshDir(): String =
    s"session-cache-spec-${java.util.UUID.randomUUID}"

  /** Runs `n` bodies on threads of their own and returns their results. */
  private def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse((0 until n).toList)(i => Future(body(i))), 60.seconds)
    finally pool.shutdownNow()
  }

  test("threads that miss one memo key at once run its build once") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val barrier = new CyclicBarrier(8)
    val got = onThreads(8) { _ =>
      barrier.await()
      SessionCache.memo(spark, dir, "k") {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head), "every caller sees the one value")
  }

  test("a build does not wait for a build of another key") {
    val dir = freshDir()
    val aBuilding = new CountDownLatch(1)
    val bBuilt = new CountDownLatch(1)
    var bSeenInTime = false
    onThreads(2) {
      case 0 =>
        SessionCache.cached(spark, dir, "a") {
          aBuilding.countDown()
          bSeenInTime = bBuilt.await(30, TimeUnit.SECONDS)
          spark.range(1).toDF()
        }
      case _ =>
        aBuilding.await()
        SessionCache.cached(spark, dir, "b") {
          bBuilt.countDown()
          spark.range(2).toDF()
        }
    }
    assert(bSeenInTime, "key a's build waited 30 s for key b's build")
  }

  test("a build that throws leaves no entry; its waiter sees the exception") {
    val dir = freshDir()
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def start(build: => String): (FutureTask[String], Thread) = {
      val f = new FutureTask[String](() => SessionCache.memo(spark, dir, "k")(build))
      val t = new Thread(f)
      t.start()
      (f, t)
    }
    val (builder, _) = start {
      building.countDown()
      release.await()
      throw new IllegalStateException("boom")
    }
    building.await()
    val (waiter, waiterThread) = start("built by the waiter")
    // the waiter parks on the in-flight entry before the build fails
    while (waiterThread.getState != Thread.State.WAITING && waiterThread.isAlive)
      Thread.sleep(5)
    release.countDown()
    for (f <- Seq(builder, waiter)) {
      val e = intercept[ExecutionException](f.get(30, TimeUnit.SECONDS))
      assert(e.getCause.getMessage == "boom")
    }
    assert(SessionCache.memo(spark, dir, "k")("rebuilt") == "rebuilt")
    intercept[IllegalStateException](
      SessionCache.cached(spark, dir, "f")(throw new IllegalStateException))
    assert(SessionCache.cached(spark, dir, "f")(spark.range(3).toDF()).count() == 3)
  }

  test("builds nest on one thread") {
    val dir = freshDir()
    assert(SessionCache.memo(spark, dir, "outer")(
      SessionCache.memo(spark, dir, "inner")(1) + 1) == 2)
    val df = SessionCache.cached(spark, dir, "outerFrame")(
      SessionCache.cached(spark, dir, "innerFrame")(spark.range(3).toDF())
        .union(spark.range(2).toDF()))
    assert(df.count() == 5)
    assert(SessionCache.existing(spark, dir, "innerFrame") != null)
  }

  test("a cached frame releases its build's broadcasts, keeping its rows and partitioning") {
    val dir = freshDir()
    val sc = spark.sparkContext
    // hash-partitioned on j, then a broadcast hash join that keeps it
    def build(): DataFrame = {
      val small = spark.range(50).select(col("id").as("j"), (col("id") % 7).as("k"))
      spark.range(0, 20000, 1, 4).select(col("id"), (col("id") % 50).as("j"))
        .repartition(4, col("j"))
        .join(broadcast(small), "j")
    }
    assert(build().queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val before = ListenerBridge.broadcastIds(sc)
    val frame = SessionCache.cached(spark, dir, "joined")(build())
    assert(frame.count() == 20000)
    val made = ListenerBridge.broadcastIds(sc) -- before
    assert(made.nonEmpty, "the build made no broadcast")
    // the build plan is unreachable once `cached` returns; the
    // ContextCleaner removes its broadcasts after a GC notices
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var held = made
    while (held.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      held = made.intersect(ListenerBridge.broadcastIds(sc))
    }
    assert(held.isEmpty, s"broadcasts $held of the cached frame's build are still held")
    def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
    assert(rows(frame) == rows(build()))
    // the partitioning consumers see at the scan of the stored rows
    def scanPartitioning(df: DataFrame): String = {
      def leaf(p: SparkPlan): SparkPlan = p match {
        case a: AdaptiveSparkPlanExec => leaf(a.executedPlan)
        case l if l.children.isEmpty => l
        case other => leaf(other.children.head)
      }
      leaf(df.queryExecution.executedPlan).outputPartitioning.toString
        .replaceAll("#\\d+", "")
    }
    val persisted = build().persist()
    try {
      persisted.count()
      assert(scanPartitioning(frame) == scanPartitioning(persisted))
      assert(scanPartitioning(frame).startsWith("hashpartitioning(j"))
    } finally persisted.unpersist(blocking = true)
  }
}
