package org.apache.spark

/** Test access to the listener bus: block until every posted Spark
  * event has reached its listeners, so a job count read afterwards is
  * complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
