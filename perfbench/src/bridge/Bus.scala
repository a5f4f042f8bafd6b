package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: lets the benchmark wait until
  * every Spark event of a pass has reached its listener before reading it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
