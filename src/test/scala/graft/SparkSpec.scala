package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftest.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM; SURVEY.md §5). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def res(p: String): String =
    getClass.getClassLoader.getResource(p).getPath

  /** Spark jobs started by `body` on this thread: they are tagged with a
    * local property, so jobs of suites running alongside are not counted.
    */
  def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.probe") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.probe", tag)
    try body
    finally {
      sc.setLocalProperty("graft.probe", null)
      ListenerBridge.flush(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}

object SparkSpec {
  /** Cores of the shared test session, whatever `SPARK_GRAFT_CPUS` says:
    * plan shapes and partition counts the suites assert depend on it.
    */
  val Cores = 4

  lazy val session: SparkSession = {
    val s = GraftSession(Cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
