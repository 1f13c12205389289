package org.apache.spark

/** The one `private[spark]` call `graft.Profile.Collector` needs: wait
  * until the listener bus has delivered every event posted so far, so
  * counters read after an action include all of that action's jobs. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
