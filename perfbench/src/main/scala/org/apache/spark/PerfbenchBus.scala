package org.apache.spark

/** Listener events are delivered asynchronously; a phase's counters are
  * complete only once the bus has drained. The drain call is Spark-private,
  * hence this accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
