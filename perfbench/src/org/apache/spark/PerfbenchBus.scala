package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark drains the
  * bus before it reads its counters, so every event of a query is
  * attributed before the next query starts. `waitUntilEmpty` is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
