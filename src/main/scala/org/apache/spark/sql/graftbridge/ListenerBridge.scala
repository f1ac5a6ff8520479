package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Access to the SparkContext's listener bus, which Spark scopes
  * private[spark]: posting an engine decision as an event, and waiting
  * until every queued event has been delivered.
  */
object ListenerBridge {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
