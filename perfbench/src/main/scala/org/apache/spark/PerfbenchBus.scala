package org.apache.spark

/** The benchmark's one reach into Spark internals: waiting until the
  * listener bus has delivered every queued event. The bus is private to
  * Spark, hence this package. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
