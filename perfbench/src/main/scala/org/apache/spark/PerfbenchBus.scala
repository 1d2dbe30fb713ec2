package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * per-call Spark counters only after every event of the call has been
  * delivered. The listener bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
