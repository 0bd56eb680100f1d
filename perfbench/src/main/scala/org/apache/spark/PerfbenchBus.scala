package org.apache.spark

/** The listener bus delivers events asynchronously and its drain call is
  * `private[spark]`; the benchmark needs it so a repetition's counters are
  * complete before they are read. This file is the benchmark's only class
  * inside the Spark namespace. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
