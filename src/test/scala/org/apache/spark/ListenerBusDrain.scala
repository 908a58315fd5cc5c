package org.apache.spark

/** Listener events are delivered asynchronously; a count a listener keeps is
  * complete only once the bus has drained. The drain call is Spark-private,
  * hence this accessor in Spark's package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
