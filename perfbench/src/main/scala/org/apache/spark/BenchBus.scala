package org.apache.spark

/** Waits until every event posted so far has reached the listeners,
  * so a traced region's counters are complete when they are read.
  * In this package because the listener bus is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
