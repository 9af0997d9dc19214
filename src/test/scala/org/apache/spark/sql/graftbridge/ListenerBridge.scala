package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]: this bridge lets a test
  * wait until every event posted so far has reached its listeners. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
