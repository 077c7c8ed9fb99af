package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus drain: counters read after this include every event posted
  * so far (the bus delivers asynchronously; `waitUntilEmpty` is
  * `private[spark]`, hence this package). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
