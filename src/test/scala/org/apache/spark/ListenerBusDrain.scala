package org.apache.spark

/** Test access to the session's listener bus, which is `private[spark]`:
  * blocks until every event posted so far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** How many listeners of class `cls` the listener bus holds. */
  def count(sc: SparkContext, cls: Class[_]): Int = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.count(cls.isInstance)
  }
}
