package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after a call would miss its last tasks. `waitUntilEmpty` is Spark-private,
  * hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
