package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer drains it
  * before reading counters so every job of a closed span is attributed.
  * `waitUntilEmpty` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
