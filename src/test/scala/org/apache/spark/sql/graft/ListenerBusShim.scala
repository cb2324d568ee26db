package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Visibility bridge for specs that count Spark jobs with a listener:
  * listener events arrive asynchronously, so a count read right after
  * an action can miss its last jobs. The bus is `private[spark]`, hence
  * this package (the [[StateStoreShim]] pattern).
  */
object ListenerBusShim {
  /** Blocks until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
