package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the scheduler's listener bus, which Spark keeps package-private,
  * so counts read at a boundary include every event posted before it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
