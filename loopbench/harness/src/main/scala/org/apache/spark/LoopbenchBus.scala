package org.apache.spark

/** Drains the listener bus, so a traced pass reads complete job, stage and
  * task records. `waitUntilEmpty` is Spark-internal, hence this package. */
object LoopbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
