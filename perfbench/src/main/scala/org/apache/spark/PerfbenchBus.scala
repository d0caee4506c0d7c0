package org.apache.spark

/** Lives in Spark's package only to reach the listener bus, whose drain is
  * not public API. The benchmark drains before it reads listener counts, so
  * no event of a finished call is still in flight. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
