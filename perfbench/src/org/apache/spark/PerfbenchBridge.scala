package org.apache.spark

/** Access to the listener bus drain, which Spark keeps `private[spark]`.
  * The benchmark reads its listener's counters only after every event of
  * a pass has been delivered, so it waits for the bus to empty first.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
