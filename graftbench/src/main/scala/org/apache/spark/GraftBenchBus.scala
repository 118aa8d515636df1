package org.apache.spark

/** The listener bus's drain call is package-private to Spark; the
  * benchmark needs it so that its listener has seen every job of a span
  * before the span's counters are read. */
object GraftBenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
