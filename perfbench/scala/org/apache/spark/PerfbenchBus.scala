package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * `SparkContext.listenerBus` is package-private, so this one call lives
  * in Spark's package. The traced run calls it after each traced op, outside
  * the op's timed span, so that the op's job, stage, task and SQL events
  * are all counted before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
