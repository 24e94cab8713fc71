package org.apache.spark

/** The listener bus drain is package-private; the traced run needs it so
  * every job, SQL and streaming event is folded in before aggregation. */
object Access {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
