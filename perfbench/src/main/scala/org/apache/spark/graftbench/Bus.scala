package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not give: the benchmark must
  * read its listener counts only after every event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
