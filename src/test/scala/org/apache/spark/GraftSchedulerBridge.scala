package org.apache.spark

/** Test-only access to `private[spark]` scheduler state: draining the
  * listener bus (so a listener has seen every job posted so far) and
  * dropping a shuffle's registered map outputs (as losing the executors
  * that wrote them would). */
object GraftSchedulerBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def dropMapOutputs(shuffleId: Int): Unit =
    tracker.unregisterAllMapAndMergeOutput(shuffleId)

  def availableMapOutputs(shuffleId: Int): Int =
    tracker.getNumAvailableOutputs(shuffleId)

  private def tracker: MapOutputTrackerMaster =
    SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
}
