package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus barrier. Listener events arrive asynchronously, so the
  * per-pass job and micro-batch counts are read only after the bus has
  * delivered everything posted during the pass. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
