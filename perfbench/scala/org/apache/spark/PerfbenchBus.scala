package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-span task totals are complete before they are
  * read. `listenerBus` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
