package org.apache.spark

/** Drains the listener bus, so a caller reads every event posted before the
  * call. `waitUntilEmpty` is Spark-internal, hence this package. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
