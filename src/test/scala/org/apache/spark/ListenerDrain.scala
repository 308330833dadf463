package org.apache.spark

/** Test hook: block until the listener bus has delivered every posted
  * event (the drain is `private[spark]`), so listeners can be asserted
  * on without sleeping. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
