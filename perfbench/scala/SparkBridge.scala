package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * queued listener event has been delivered, so the events of one action
  * are attributed to that action and not to the next.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
