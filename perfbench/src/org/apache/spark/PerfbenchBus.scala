package org.apache.spark

/** Drains the listener bus so a tracer sees every event of a finished
  * run before it reads them (`waitUntilEmpty` is Spark-internal). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
