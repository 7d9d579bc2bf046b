package org.apache.spark

/** Drains the listener bus, which Spark keeps package-private, so a spec
  * reads listener counts only after every event of an action has been
  * delivered. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
