package org.apache.spark

/** Spec access to the package-private listener bus: wait until every
  * queued event has reached its listeners, so a listener's job or task
  * count is complete when a spec reads it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
