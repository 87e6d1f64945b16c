package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: listener events arrive asynchronously, so a spec
  * that counts jobs waits for the bus to empty before reading. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
