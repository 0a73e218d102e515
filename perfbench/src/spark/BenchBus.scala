package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * queued listener event has been delivered, so a span's counters are
  * complete before the recorder reads them. Lives in this package only
  * because `SparkContext.listenerBus` is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
