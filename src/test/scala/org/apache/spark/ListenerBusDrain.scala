package org.apache.spark

/** Lets a spec wait until every queued listener event has been delivered,
  * so a `SparkListener`'s counts are complete before they are asserted.
  * `SparkContext.listenerBus` is `private[spark]`, hence the package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
