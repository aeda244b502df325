package org.apache.spark

/** Test access to Spark's listener bus, whose drain is package-private:
  * after `drain`, every event posted before the call has reached every
  * listener. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
