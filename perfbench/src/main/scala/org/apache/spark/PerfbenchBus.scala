package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so trace aggregation never races the listener bus. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
