package org.apache.spark

/** Drains the listener bus, which Spark keeps package-private, so a
  * reader of listener counts (`graft.Bench`, the job-count specs) sees
  * them only after every event of an action has been delivered. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
