package org.apache.spark

/** Reaches `LiveListenerBus.waitUntilEmpty`, which is package-private, so the
  * benchmark can read its task-metric accumulators only after every task-end
  * event of a timed section has been delivered. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
