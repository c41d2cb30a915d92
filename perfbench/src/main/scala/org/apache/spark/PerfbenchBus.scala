package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads
  * its listener's records only after the bus has delivered every event
  * posted so far. The drain call is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
