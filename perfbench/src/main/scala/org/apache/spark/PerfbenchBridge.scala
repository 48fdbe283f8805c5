package org.apache.spark

/** Spark-internal hook the benchmark needs from outside the program: wait
  * until every listener has seen every event posted so far, so a measured
  * pass's spans and plans are complete when it is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
