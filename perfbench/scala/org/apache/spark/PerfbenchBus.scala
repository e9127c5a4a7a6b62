package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event. The bus
  * is asynchronous, so a tracer that reads its listeners' state right after an
  * action would otherwise miss that action's last events. `listenerBus` is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
