package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the spark-package-private listener bus, so a caller can wait
  * until every event posted so far has reached its listeners, the streams
  * queue's included. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
