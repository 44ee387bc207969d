package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every
  * posted listener event has been delivered, so job statistics and
  * observed metrics are complete when an operation is accounted. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
