package org.apache.spark

/** Access to the one `private[spark]` hook the benchmark needs: task-end
  * and query-end events reach listeners asynchronously, so a counter read
  * right after an action can miss that action's last tasks. Draining the
  * bus first makes every per-operation delta complete. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
