package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the traced run's listener totals are complete (the bus is
  * `private[spark]`).
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
