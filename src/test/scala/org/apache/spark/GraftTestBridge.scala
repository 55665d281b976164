package org.apache.spark

/** Test-only doorway into the `private[spark]` listener bus: block until
  * every posted event has reached the listeners, so a test counting jobs
  * with a `SparkListener` sees all of them.
  */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
