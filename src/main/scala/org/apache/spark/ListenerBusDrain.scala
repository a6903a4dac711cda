package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: block
  * until every posted Spark event has reached its listeners, so a job
  * count read afterwards is complete rather than a guess at how long
  * delivery takes.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
