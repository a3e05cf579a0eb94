package org.apache.spark

/** The listener bus is internal to Spark; this shim (compiled into the
  * benchmark only) lets the tracer wait for queued events before it
  * reads the counters they carry. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
