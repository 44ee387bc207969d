package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners, so a listener's counts are final. The listener bus is
  * package-private to Spark, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
