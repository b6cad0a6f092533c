package org.apache.spark.iiotbenchbridge

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so task
  * metrics of finished jobs are counted before they are read.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
