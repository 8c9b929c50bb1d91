package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus is internal to Spark; the benchmark's traced run
  * waits on it so every task event of an operation is counted before the
  * operation's metrics are read.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
