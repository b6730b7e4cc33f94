package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners. The listener bus is asynchronous and its drain hook is
  * package-private, so the benchmark's tracer reaches it from here. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
