package graft.queries

import java.util.UUID
import java.util.concurrent.{CancellationException, CompletableFuture, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import com.google.common.util.concurrent.ThreadFactoryBuilder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Concurrent materialization of a query's independent components
  * (s18's truth set and nine variants, d25's truth pairs and three
  * methods, p16/p26's three release gates).
  *
  * Under AQE, `localCheckpoint(eager = false)` runs a plan's shuffle
  * stages at CONSTRUCTION time (the adaptive root materializes every
  * exchange before handing out its RDD), so checkpointing components
  * one after another runs their pipelines back-to-back: s18 took
  * 3.53 s with serial checkpoints against 2.31 s for one union plan.
  * Building them concurrently overlaps their independent stage DAGs
  * on the executor (each component's tail back-fills with the next
  * one's tasks) while each component is still analyzed on its own, so
  * the driver never optimizes one 3 700-line union tree.
  *
  * The components run on a pool of their own with no more threads
  * than the session has cores. Each thread carries the caller's
  * active session and local properties (Spark's own idiom for
  * broadcast and subquery builds), so the caller's job group, job
  * tags and other properties reach every component job, and
  * cancelling the caller's tag cancels them. When one component
  * fails or the caller is interrupted, every sibling job is
  * cancelled, and the first failure is rethrown once every component
  * has ended. A component that composes again runs its own parts
  * inline, on its thread, so nested calls neither wait for a busy
  * pool nor multiply threads.
  */
object Components {

  private val inComponent = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** `parts` by name, each `localCheckpoint(eager = false)`ed. */
  def materialize(spark: SparkSession)(
      parts: (String, () => DataFrame)*): Map[String, DataFrame] = {
    def one(build: () => DataFrame) = build().localCheckpoint(eager = false)
    if (parts.size < 2 || inComponent.get)
      return parts.map { case (n, b) => n -> one(b) }.toMap
    val sc = spark.sparkContext
    val tag = s"graft-components-${UUID.randomUUID}"
    val failure = new AtomicReference[Throwable]
    def fail(t: Throwable): Unit =
      if (failure.compareAndSet(null, t)) sc.cancelJobsWithTag(tag)
    // a sibling between two jobs when the first failure lands starts
    // its next job after that cancel: cancel it as it starts
    val lateJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (failure.get != null && e.properties != null &&
            e.properties.getProperty("spark.job.tags", "").split(",").contains(tag))
          sc.cancelJob(e.jobId)
    }
    val pool = Executors.newFixedThreadPool(
      math.min(parts.size, math.max(1, sc.defaultParallelism)),
      new ThreadFactoryBuilder()
        .setDaemon(true).setNameFormat("graft-components-%d").build())
    var interrupted = false
    // waits for `f` to end; an interrupt of the caller fails the
    // composition and waits on
    def settle(f: java.util.concurrent.Future[_]): Unit =
      while (!f.isDone)
        try f.get()
        catch {
          case e: InterruptedException => interrupted = true; fail(e)
          case _: ExecutionException | _: CancellationException => ()
        }
    sc.addSparkListener(lateJobs)
    try {
      val futures: Seq[(String, CompletableFuture[DataFrame])] = parts.map {
        case (n, build) =>
          n -> SQLExecution.withThreadLocalCaptured(
              spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool) {
            inComponent.set(true)
            sc.addJobTag(tag)
            if (failure.get != null) throw new CancellationException(tag)
            try one(build)
            catch { case t: Throwable => fail(t); throw t }
          }
      }
      futures.foreach { case (_, f) => settle(f) }
      if (failure.get != null) throw failure.get
      futures.map { case (n, f) => n -> f.join() }.toMap
    } finally {
      pool.shutdown()
      while (!pool.isTerminated)
        try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        catch { case _: InterruptedException => interrupted = true }
      // a late job whose start the listener had not seen yet
      if (failure.get != null) sc.cancelJobsWithTag(tag)
      sc.removeSparkListener(lateJobs)
      if (interrupted && !failure.get.isInstanceOf[InterruptedException])
        Thread.currentThread().interrupt()
    }
  }
}
