package org.apache.spark

/** Blocks until every event posted to the context's listener bus has been
  * delivered. The bus is package-private, hence this file's package: the
  * traced run reads its counters only after the jobs of a call are fully
  * accounted for.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
