package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners, so a spec's SparkListener counts read complete. The
  * listener bus is `private[spark]`, hence this file in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
