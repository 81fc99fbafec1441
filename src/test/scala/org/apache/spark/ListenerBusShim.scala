package org.apache.spark

/** `private[spark]` listener-bus drain: a listener's count of the jobs a
  * block ran is complete only once every queued event is delivered. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
