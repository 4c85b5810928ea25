package org.apache.spark

/** Access to the driver's listener bus, which is private to Spark: block
  * until every event posted so far has reached its listeners, so a
  * listener's counts (and the status store they feed) can be read exactly. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
