package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it to
  * read listener counters at a phase boundary without sleeping. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
