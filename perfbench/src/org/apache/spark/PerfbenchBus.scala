package org.apache.spark

/** Lets the benchmark's tracer wait for the listener bus to deliver every
  * pending event before it reads its counters (the bus is asynchronous and
  * its drain call is package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
