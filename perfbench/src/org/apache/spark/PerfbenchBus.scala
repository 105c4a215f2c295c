package org.apache.spark

/** The listener bus is package-private; the benchmark's tracer drains
  * it at every span boundary so each event is processed while the span
  * that caused it is still open. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
