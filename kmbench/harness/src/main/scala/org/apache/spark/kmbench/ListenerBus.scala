package org.apache.spark.kmbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus, so a trace is written
  * only after every posted event has reached the tracer. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
