package org.apache.spark

/** Waits until every queued listener event has been delivered. The
  * listener bus is `private[spark]`; this bridge lets a test read a
  * listener's tally only after the events of the jobs it ran arrived.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
