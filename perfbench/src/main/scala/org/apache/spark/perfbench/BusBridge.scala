package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is private to the `org.apache.spark`
  * package: the benchmark must read its listener's counters only after
  * every event of the measured calls has been delivered.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
