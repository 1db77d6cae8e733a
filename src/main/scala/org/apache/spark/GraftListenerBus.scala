package org.apache.spark

import scala.jdk.CollectionConverters._

/** Access to the driver's listener bus, which is `private[spark]`. */
object GraftListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The class names of the listeners on `sc`'s bus, in registration order. */
  def listenerClasses(sc: SparkContext): Seq[String] =
    sc.listenerBus.listeners.asScala.map(_.getClass.getName).toSeq
}
