package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the tracer
  * must see every task-end event before it totals a span. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
