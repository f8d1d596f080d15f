package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus at every op boundary so that each
  * listener event is attributed to the op that caused it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
