package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: a traced
  * span waits until every event of its jobs has reached the listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
