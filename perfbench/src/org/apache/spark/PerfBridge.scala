package org.apache.spark

/** The one `private[spark]` call the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so a query's
  * listener counters are complete before the next query starts. */
object PerfBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
