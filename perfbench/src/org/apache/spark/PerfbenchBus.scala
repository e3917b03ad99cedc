package org.apache.spark

/** The listener bus is asynchronous: task-end events of a finished job
  * can still be queued when the action returns. Reading the benchmark's
  * listener totals after draining the bus makes them complete without a
  * sleep. `listenerBus` is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
