package org.apache.spark

/** The one engine-internal call the harness needs: wait until the listener
  * bus has delivered every posted event, so counters read after an action
  * include that action's jobs, stages and tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
