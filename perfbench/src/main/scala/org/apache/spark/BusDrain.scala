package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * listener's view is complete before it is read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
