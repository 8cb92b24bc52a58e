package org.apache.spark

/** The listener bus's drain is package-private; the recorder needs it to
  * know every event of the recorded window has been delivered. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
