package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a thunk starts. The listener bus is drained
  * before the counting listener is added, so no earlier job counts,
  * and again before the count is read, so none of the thunk's jobs is
  * missed. Assumes nothing else runs jobs on the context meanwhile
  * (the suites run one at a time).
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
