package org.apache.spark

/** The one `private[spark]` seam the specs touch: waiting until the
  * listener bus has delivered every posted event, so a listener's
  * counts are complete when a spec reads them.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
