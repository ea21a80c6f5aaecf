package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so a unit's Spark counters are complete before they are read.
  * `SparkContext.listenerBus` is `private[spark]`, hence the package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
