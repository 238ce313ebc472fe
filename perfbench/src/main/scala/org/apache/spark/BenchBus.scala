package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark reads task metrics only after every event of a measured call
  * has reached its listener. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
