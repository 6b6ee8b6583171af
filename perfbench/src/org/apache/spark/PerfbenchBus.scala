package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run can attribute all job, stage and task events to the call
  * that just returned. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
