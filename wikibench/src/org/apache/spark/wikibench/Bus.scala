package org.apache.spark.wikibench

import org.apache.spark.SparkContext

/** Drains the listener bus, so that every event a call posted has reached
  * the tracer's listeners before the call's span closes.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
