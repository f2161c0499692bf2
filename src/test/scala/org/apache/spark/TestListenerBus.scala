package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * spec can count a finished action's jobs and stages. The listener bus is
  * package-private, so this one call lives in Spark's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
