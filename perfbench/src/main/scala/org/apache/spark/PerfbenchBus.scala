package org.apache.spark

/** Drains the listener bus, which Spark keeps package-private: the traced
  * run reads its per-call counts only after every event of the call has
  * been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
