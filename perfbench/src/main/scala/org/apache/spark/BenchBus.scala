package org.apache.spark

/** Spark delivers listener events on its own thread. The traced run drains
  * that queue at span boundaries so every job, task and query-execution event
  * of a pass is counted before the pass's numbers are read. The drain is
  * package-private in Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
