package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The
  * listener bus is `private[spark]`; this object lives in Spark's package
  * only to reach it. `graft.Bench` drains before reading its per-query
  * job counts.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
