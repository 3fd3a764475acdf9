package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. The bus is private to Spark, so this one call lives in
  * Spark's package; the traced run needs it to read complete task metrics
  * once a pass has returned. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
