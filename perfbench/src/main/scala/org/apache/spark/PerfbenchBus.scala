package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run needs
  * it so that every job, stage and micro-batch event has been delivered
  * before the spans are written. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
