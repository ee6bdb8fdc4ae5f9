package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * event posted so far, so counters read at a span boundary include
  * the work done inside the span. The bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
