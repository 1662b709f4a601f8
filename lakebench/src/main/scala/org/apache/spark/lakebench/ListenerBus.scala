package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the tracer needs to
  * know every job and task event has been delivered before it reports.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
