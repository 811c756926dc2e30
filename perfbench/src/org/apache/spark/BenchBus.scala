package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * listener's view of a finished pass is complete before it is read. The
  * bus is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
