package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it before it
  * reads what its listeners recorded, so no late event is lost. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
