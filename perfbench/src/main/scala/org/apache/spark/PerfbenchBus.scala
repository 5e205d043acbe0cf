package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark reads per-span counters only after every task-end event
  * of the spans it reports has been handled.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
