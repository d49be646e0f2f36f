package org.apache.spark

/** Access to the listener bus, which is private to Spark: lets the
  * benchmark wait until its listener has seen every finished job.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
