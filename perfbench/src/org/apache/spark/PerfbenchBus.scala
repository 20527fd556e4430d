package org.apache.spark

/** The listener bus delivers events asynchronously; a span that closes
  * must wait until every task-end event of its jobs has been delivered
  * before it reads its counters. `waitUntilEmpty` is Spark-internal, so
  * this one-line bridge lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
