package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it to read its listeners' counters at a query boundary. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
