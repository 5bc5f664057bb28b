package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * trace's job and stage records are complete before they are read.
  * Lives in Spark's package because the listener bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
