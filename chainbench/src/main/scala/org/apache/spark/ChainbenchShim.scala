package org.apache.spark

/** Access to the listener bus, so the benchmark can wait until every
  * job, stage and task event of a phase has been delivered. */
object ChainbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
