package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits until every posted event has reached the listener
  * before it cuts the event log into spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
