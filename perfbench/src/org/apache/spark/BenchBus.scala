package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark run drains it
  * at span boundaries so listener counters are complete when read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
