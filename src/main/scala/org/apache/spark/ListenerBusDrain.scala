package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * listener events arrive asynchronously, so code that counts jobs (the
  * bench's per-query construct jobs, the job-count specs) waits for the
  * bus to empty before reading. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
