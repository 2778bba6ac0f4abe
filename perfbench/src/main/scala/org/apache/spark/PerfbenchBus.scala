package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * tracer reads complete totals after an operation. The bus is
  * package-private to Spark, hence this one-method bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
