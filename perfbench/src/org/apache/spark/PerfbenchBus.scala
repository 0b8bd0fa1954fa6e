package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it to
  * read complete per-pass job metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
