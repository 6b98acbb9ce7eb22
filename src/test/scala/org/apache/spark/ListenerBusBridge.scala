package org.apache.spark

/** Test access to the listener bus drain, which is `private[spark]`: a
  * listener's counts are complete only once the bus has delivered every
  * event posted before the call. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
