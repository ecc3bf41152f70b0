package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; counts read at a
  * boundary are exact only once the bus has delivered everything posted
  * before it. The wait is package-private to Spark, hence this bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
