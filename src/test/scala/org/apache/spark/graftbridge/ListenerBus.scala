package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: listeners hear events
  * asynchronously, so a spec that counts jobs must wait until every event
  * posted so far has been delivered before it reads its counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
