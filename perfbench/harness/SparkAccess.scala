package org.apache.spark

/** Drains Spark's listener bus, so that every event of the calls made so
  * far has reached the benchmark's listeners before they are read. The
  * bus is `private[spark]`; this object lives in Spark's package only to
  * reach it. Used by traced runs alone.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
