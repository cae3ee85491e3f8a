package org.apache.spark.linkbenchbridge

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: block until the listener bus
  * has delivered every queued event, so per-call task totals are complete when read.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
