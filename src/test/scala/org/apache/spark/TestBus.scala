package org.apache.spark

/** Block until every queued listener event has been delivered, so a
  * spec's SparkListener has seen every job its body launched. Lives in
  * this package only because `SparkContext.listenerBus` is
  * `private[spark]`. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
