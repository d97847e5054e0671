package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is asynchronous; the traced run drains it before it
  * reads job and task counters, so late events are not lost. Lives in
  * this package because the bus accessor is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
