package org.apache.spark

/** Blocks until the context's listener bus has delivered every posted
  * event, so a test's QueryExecutionListener has seen all executions
  * that finished before the call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
