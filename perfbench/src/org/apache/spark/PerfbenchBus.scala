package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. Listener
  * events are delivered asynchronously, so a listener's counters for an
  * operation are complete only once the bus has drained.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
