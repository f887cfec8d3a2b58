package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the private[spark] listener bus, for the same reason as
  * [[ColumnBridge]]: blocks until every event posted so far has been
  * delivered to every listener. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
