package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it between
  * requests so that every event of one request is attributed to it. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
