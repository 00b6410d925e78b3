package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a traced run reads complete counts at a call boundary. The bus is
  * private to Spark's package, hence this one-method shim inside it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
