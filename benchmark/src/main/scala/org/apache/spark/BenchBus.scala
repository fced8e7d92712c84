package org.apache.spark

/** The benchmark reads its listeners' totals only after Spark has delivered
  * every event of the work it timed. The listener bus is asynchronous and
  * its drain call is package-private, so this one-line bridge lives in
  * Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
