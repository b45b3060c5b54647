package org.apache.spark

/** Waits until every listener event posted so far has been delivered;
  * Spark keeps the bus `private[spark]`. Specs that read what a listener
  * saw call this after the actions they observe.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
