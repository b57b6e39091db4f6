package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Spark keeps the listener bus package-private; specs that count
  * events with a SparkListener drain it before reading their counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
