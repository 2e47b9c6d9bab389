package org.apache.spark

/** Listener events are delivered asynchronously; the harness drains the
  * bus before it reads what its listeners collected.
  */
object PerfbenchGlue {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
