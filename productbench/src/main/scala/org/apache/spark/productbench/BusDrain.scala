package org.apache.spark.productbench

/** Waits until Spark's listener bus has delivered every posted event. The
  * bus is private to Spark, hence this package. */
object BusDrain {
  def apply(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
