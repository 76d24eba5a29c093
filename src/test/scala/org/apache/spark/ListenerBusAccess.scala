package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test reads complete job records. The bus is private[spark].
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
