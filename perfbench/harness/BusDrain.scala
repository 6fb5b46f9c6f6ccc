package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * recorder read right after an op has seen all of the op's jobs, stages and
  * query executions. The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
