package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is package-private to Spark, hence this package. Counters read
  * after a drain are exact, which a quiet-period poll cannot promise.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
