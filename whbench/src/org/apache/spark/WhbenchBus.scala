package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so listener counts are complete before they are attributed. The bus
  * is package-private; this is its one entry point used here. */
object WhbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
