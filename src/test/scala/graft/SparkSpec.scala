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
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
