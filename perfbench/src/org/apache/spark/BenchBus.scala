package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run can close an op only after its jobs, tasks and query
  * executions were attributed to it. Lives in this package because the bus
  * is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
