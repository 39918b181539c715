package org.apache.spark

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * queued event, so task counters read after a timed region are complete.
  * The drain itself is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
