package org.apache.spark

/** Lets the benchmark harness wait for the listener bus to deliver every
  * pending event. Task-end events arrive asynchronously, so span counts
  * are read only after a drain; the bus itself is private to Spark. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
