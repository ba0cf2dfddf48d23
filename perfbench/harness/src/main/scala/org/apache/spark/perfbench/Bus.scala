package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so
  * a listener read right after an action sees that action's jobs. The bus
  * is package-private to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
