package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` and its `waitUntilEmpty` are
  * private[spark]. This one-file shim lives in the org.apache.spark
  * namespace to re-export the wait, so a listener's counts can be read
  * after every posted event has been delivered.
  */
object ListenerBusBridge {
  /** Blocks until every event posted so far has reached every listener;
    * throws `TimeoutException` after `timeoutMs`.
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
