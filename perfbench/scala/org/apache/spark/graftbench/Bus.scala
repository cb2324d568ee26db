package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * per-call job, task and micro-batch counters are complete before they
  * are read. The listener bus is `private[spark]`, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
