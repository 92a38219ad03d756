package org.apache.spark

/** Test access to the listener bus, which is private to Spark: waits until
  * every event posted so far has reached the listeners, so a listener's
  * job count is complete once the action that ran the jobs returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
