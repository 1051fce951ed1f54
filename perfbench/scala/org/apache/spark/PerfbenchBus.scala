package org.apache.spark

/** Listener-bus drain for the benchmark. `LiveListenerBus.waitUntilEmpty`
  * is `private[spark]`; this shim lives in the same package so counters
  * read after a query or batch include every event that query posted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
