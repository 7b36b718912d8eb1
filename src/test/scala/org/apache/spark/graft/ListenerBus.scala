package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not give: a test that counts
  * listener events must read them only after every event is delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
