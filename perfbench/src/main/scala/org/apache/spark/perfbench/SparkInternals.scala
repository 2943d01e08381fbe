package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads. They live in Spark's
  * package because both are `private[spark]`.
  */
object SparkInternals {

  /** Block until every event posted so far reached the listeners, so a
    * listener's totals read after an operation include that operation.
    */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** (classes compiled, total compile milliseconds) since JVM start.
    * The histogram keeps a sample of values, so the total is the count
    * times the sampled mean.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, n * h.getSnapshot.getMean)
  }
}
