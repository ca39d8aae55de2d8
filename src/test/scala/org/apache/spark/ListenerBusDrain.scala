package org.apache.spark

/** Waits until the listener bus has delivered every posted event.
  *
  * Spark's listener bus is asynchronous and its drain is
  * package-private, so the specs reach it from this package. Without
  * it, a listener can miss the last jobs of a call, or count a job of
  * the call before.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
