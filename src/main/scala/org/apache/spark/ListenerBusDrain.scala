package org.apache.spark

/** Access to the context's listener bus, which is `private[spark]`:
  * blocks until every event posted so far has reached its listeners, so a
  * listener's counters can be read without missing late events. Shared by
  * the test suite and `graft.DiagStages`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
