package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The specs' one way to wait for the driver's asynchronous listener bus
  * (`SparkContext.listenerBus` is `private[spark]`, hence this package).
  */
object ListenerBus {

  /** Block until every event already posted to the bus has been
    * delivered, so a listener's snapshot is complete however loaded the
    * host is (a fixed sleep races the bus).
    */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
