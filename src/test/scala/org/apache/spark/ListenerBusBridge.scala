/* Test-only access to the private[spark] listener bus: lives in
 * org.apache.spark purely for access. */
package org.apache.spark

object ListenerBusBridge {
  /** Listeners registered on `sc`'s bus, across all its queues. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
