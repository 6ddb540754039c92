package org.apache.spark

/** The listener bus is private to Spark; the tracer needs it drained before
  * it reads or detaches its listeners, or the last events of a pass are lost.
  */
object PerfbenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
