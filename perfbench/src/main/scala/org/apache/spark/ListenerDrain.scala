package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so listener totals read afterwards are complete. The bus is internal to
  * Spark, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
