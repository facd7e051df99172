package org.apache.spark

/** The listener bus's drain call is package-private to Spark; this one
  * forwarder lets the benchmark read its trace only after every queued
  * event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
