package org.apache.spark

/** Spark's listener bus delivers events asynchronously; the benchmark
  * waits for it to empty before reading listener-derived numbers.
  * `listenerBus` is package-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
