package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. The benchmark reads its
  * listener's counters right after an action returns, so it first waits for
  * the bus to deliver everything queued; only code inside `org.apache.spark`
  * may call that wait.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
