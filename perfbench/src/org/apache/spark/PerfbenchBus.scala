package org.apache.spark

/** The one Spark-internal hook the traced run needs: block until every
  * queued listener event has been delivered, so counts read afterwards
  * are complete.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
