package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so the
  * benchmark reads its listener counters only once they are complete. The
  * bus is package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
