package org.apache.spark

/** Waits until every posted listener event has been delivered, so spans
  * recorded by the benchmark's listeners are complete before they are
  * read. The live listener bus is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
