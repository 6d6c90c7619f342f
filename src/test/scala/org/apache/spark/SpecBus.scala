package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a spec's listener counts are complete when it reads them. In
  * this package because the listener bus is `private[spark]`. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
