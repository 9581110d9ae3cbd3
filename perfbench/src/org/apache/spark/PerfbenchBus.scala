package org.apache.spark

/** Waits until every event posted so far has reached every listener. The
  * listener bus is asynchronous and `waitUntilEmpty` is package-private,
  * hence this accessor in Spark's own package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
