package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run closes a measurement window only after every event
  * posted inside it has been delivered to the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
