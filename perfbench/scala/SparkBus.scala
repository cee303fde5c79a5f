package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so the benchmark's listeners have seen all of a lane's jobs before
  * the lane's record is closed. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
