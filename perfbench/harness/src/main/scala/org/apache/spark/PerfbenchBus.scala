package org.apache.spark

/** Lets the benchmark's tracer wait until every listener event posted so
  * far has been delivered, so a span's counters are complete when the span
  * closes. `SparkContext.listenerBus` is package-private to `spark`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
