package org.apache.spark.graftest

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** Test-side access bridge for `private[spark]` scheduler internals
  * (the graftext.Bridge technique, scoped to the test classpath).
  * The one consumer is deterministic listener-metric assertions:
  * task-end events reach `SparkListener`s through an ASYNC bus, so a
  * test that reads a listener-fed counter right after `collect()`
  * races the drain — and polling with a timeout both mis-attributes
  * late events from a previous query and makes genuinely quiet
  * queries pay the full timeout. `flush` blocks until every queued
  * event has been delivered, which is exactly the barrier Spark's own
  * metrics suites use. SessionCacheSpec also reads which broadcasts
  * still hold blocks.
  */
object ListenerBridge {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the broadcasts with a block in the driver's block manager:
    * a released broadcast has none.
    */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: BroadcastBlockId => b.broadcastId }.toSet
}
