package org.apache.spark

/** Waits until the listener bus has delivered every posted event.
  *
  * Spark's listener bus is asynchronous and its drain is
  * package-private, so the tracer reaches it from this package. Without
  * it, a stage-completed event of one operation can be counted against
  * the next.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
