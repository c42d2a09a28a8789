package org.apache.spark

/** Test access to the `private[spark]` listener bus: task-end events
  * reach listeners asynchronously, so a spec that counts them drains the
  * bus after its action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
