package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer drains the bus at every span boundary so that each listener
  * event is delivered while the span that caused it is still open. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
