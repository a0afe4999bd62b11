package org.apache.spark

/** Test-side access to the one Spark-internal hook job-count tests need:
  * block until every queued listener event has been delivered, so counts
  * read afterwards are complete.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
