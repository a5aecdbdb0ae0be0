package org.apache.spark

/** Blocks until every posted listener event has been delivered, so a
  * traced op's job and stage events are attributed before the op's
  * figures are read. The drain itself is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
