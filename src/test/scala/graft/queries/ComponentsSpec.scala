package graft.queries

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.graftest.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}

/** [[Components]]: component jobs carry the caller's local properties,
  * a failure or a cancellation ends every component before it is
  * rethrown, and nothing is left behind.
  */
class ComponentsSpec extends SparkSpec {

  /** The sf0.001 testdata, next to the default data dir. */
  private val dir = Paths.get(graft.GraftSession.sfDir).resolveSibling("sf0.001").toString

  private def helperThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-components-") && t.isAlive).toSet

  test("component jobs carry the caller's properties on every call") {
    val sc = spark.sparkContext
    val all = new java.util.concurrent.atomic.AtomicInteger
    val everyJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = all.incrementAndGet()
    }
    sc.addSparkListener(everyJob)
    val counts =
      try Seq.fill(2) {
        all.set(0)
        val probed = jobsStarted(TrainingSet.releasePipeline(spark, dir).collect())
        (probed, all.get)
      } finally sc.removeSparkListener(everyJob)
    val built = TrainingSet.releasePipeline(spark, dir)
    val finalPlanOnly = jobsStarted(built.collect())
    assert(counts.forall { case (probed, total) =>
        probed == total && probed > finalPlanOnly },
      s"(probed, all) jobs per call: $counts; $finalPlanOnly for the final plan alone")
  }

  test("a failing component cancels its siblings and is rethrown after all end") {
    val sc = spark.sparkContext
    val probe = UUID.randomUUID.toString
    val probed = ConcurrentHashMap.newKeySet[Int]()
    val ends = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.probe") == probe)
          probed.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.jobResult.toString)
    }
    // runs until its task is killed
    val slow = udf { (i: Long) =>
      ComponentsSpec.slowRunning.countDown()
      while (!TaskContext.get().isInterrupted()) Thread.sleep(10)
      i
    }
    val before = helperThreads
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.probe", probe)
    val e =
      try intercept[IllegalStateException](Components.materialize(spark)(
        "slow" -> (() => spark.range(0, 4, 1, 4)
          .select(slow(col("id")).as("id")).repartition(2, col("id"))),
        "boom" -> (() => {
          ComponentsSpec.slowRunning.await()
          throw new IllegalStateException("boom")
        })))
      finally {
        sc.setLocalProperty("graft.probe", null)
        ListenerBridge.flush(sc)
        sc.removeSparkListener(listener)
      }
    assert(e.getMessage == "boom")
    val slowJobs = probed.asScala.map(j => j -> ends.get(j)).toMap
    assert(slowJobs.nonEmpty && slowJobs.values.forall(r => r != null && r.contains("cancelled")),
      s"the slow component's jobs: $slowJobs")
    assert((helperThreads -- before).isEmpty, "a helper thread outlived the call")
  }

  test("cancelling the caller's job tag ends d25; a rerun returns the same rows") {
    val sc = spark.sparkContext
    // a dir of its own, so d25 builds its session caches under the cancel
    val own = Files.createTempDirectory("components_spec_")
      .resolve("sf0.001")
    Files.createSymbolicLink(own, Paths.get(dir))
    val tag = s"d25-cancel-${UUID.randomUUID}"
    val canceller = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.tags", "").split(",").contains(tag))
          sc.cancelJobsWithTag(tag)
    }
    sc.addSparkListener(canceller)
    sc.addJobTag(tag)
    try intercept[SparkException](Dedup.dedupEval(spark, own.toString).collect())
    finally {
      sc.removeJobTag(tag)
      ListenerBridge.flush(sc)
      sc.removeSparkListener(canceller)
    }
    assert(Dedup.dedupEval(spark, own.toString).collect().toSeq ==
      Dedup.dedupEval(spark, dir).collect().toSeq)
  }

  test("a component that composes runs its own parts inline") {
    val innerThreads = ConcurrentHashMap.newKeySet[String]()
    def inner(n: Long) = () => {
      innerThreads.add(Thread.currentThread.getName)
      spark.range(n).toDF()
    }
    val parts = Components.materialize(spark)(
      "nested" -> (() => {
        val ab = Components.materialize(spark)("a" -> inner(2), "b" -> inner(3))
        assert(innerThreads.asScala == Set(Thread.currentThread.getName))
        ab("a").union(ab("b"))
      }),
      "plain" -> (() => spark.range(4).toDF()))
    assert(parts("nested").count() == 5 && parts("plain").count() == 4)
  }
}

object ComponentsSpec {
  /** Counted down by the first task of the slow component. */
  val slowRunning = new CountDownLatch(1)
}
