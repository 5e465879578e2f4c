package org.apache.spark

/** Spark's listener bus is asynchronous and its flush is package-private:
  * the traced run drains it before reading listener counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
