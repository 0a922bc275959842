package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach a SparkListener asynchronously; the benchmark reads
  * its counters only after the bus has delivered every event of the action
  * it just timed. The drain is package-private to Spark, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
