package org.apache.spark

/** Waits until every queued listener event has been delivered.
  *
  * The listener bus is `private[spark]`; this one-line bridge lives in
  * Spark's package so the trace can close a span only after the events
  * of the jobs inside it have reached its listeners.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
