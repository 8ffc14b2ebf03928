package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * that listener counts read after an action are complete. The bus is
  * package-private to Spark.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
