package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * after `drain`, every event of the jobs run so far has reached every
  * listener. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
