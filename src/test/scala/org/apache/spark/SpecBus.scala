package org.apache.spark

/** Lets a spec wait until every queued listener event has been
  * delivered, so a `SparkListener`'s counts are complete before they
  * are read. `listenerBus` is `private[spark]`, hence this package. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
