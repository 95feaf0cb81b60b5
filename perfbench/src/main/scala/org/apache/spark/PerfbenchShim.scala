package org.apache.spark

/** The listener bus's drain is package-private; the harness waits on it
  * before it reads the listener's counters.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
