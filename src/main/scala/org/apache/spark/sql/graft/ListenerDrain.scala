package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted to the context's listener bus has been
  * delivered, so a listener's counters are complete when it is read. The
  * bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
