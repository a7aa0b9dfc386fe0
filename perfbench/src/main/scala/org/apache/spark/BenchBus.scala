package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * at each operation boundary so that every event is counted against
  * the operation that caused it. `waitUntilEmpty` is package-private,
  * hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
