package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before
  * it reads its listeners' counters, so no late event is missed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
