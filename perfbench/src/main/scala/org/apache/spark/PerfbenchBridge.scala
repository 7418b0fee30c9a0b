package org.apache.spark

/** Access to the `private[spark]` listener bus: waits until every event
  * posted so far has reached the benchmark's listener. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
