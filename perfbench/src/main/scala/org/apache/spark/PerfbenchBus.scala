package org.apache.spark

/** Drains Spark's listener bus, so every task, stage, job and query
  * event posted so far has reached the benchmark's listeners before a
  * traced span is closed. `listenerBus` is package-private, hence this
  * one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
