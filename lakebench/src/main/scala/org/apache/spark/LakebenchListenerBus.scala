package org.apache.spark

/** The listener bus is package-private to Spark; the tracer waits on
  * it so every event of the timed phase has been delivered before it
  * reads its counters. */
object LakebenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
