package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener events arrive asynchronously, so `graft.Telemetry` waits
  * for the bus to empty before it reads the jobs it counted. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
