package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: block until every posted event has reached every
  * listener, so a listener's counts are complete when a spec reads them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
