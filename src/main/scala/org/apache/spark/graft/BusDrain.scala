package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so listener counts read afterwards are exact ([[graft.Profile]], and
  * tests that count jobs). The bus is package-private to Spark, hence
  * this package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
