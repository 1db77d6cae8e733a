package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`. */
object GraftListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
