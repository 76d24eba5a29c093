package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced run reads complete per-batch counts. The bus is private[spark].
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
