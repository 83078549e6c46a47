package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run reads complete reports. The bus is internal to Spark; this
  * is the one call the benchmark makes past the public API. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
