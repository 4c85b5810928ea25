package org.apache.spark

/** Test access to the driver's listener bus, which is private to Spark:
  * block until every event posted so far has reached its listeners, so a
  * listener's counts can be read exactly. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
