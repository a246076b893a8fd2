package org.apache.spark

/** The one private Spark call the harness needs: wait until every queued
  * listener event has been delivered, so the job records of a pass are
  * complete before they are aggregated.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
