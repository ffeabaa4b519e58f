package org.apache.spark

/** Waits until every queued listener event has been delivered. Spark
  * keeps `listenerBus` package-private; the benchmark needs it so a
  * pass's job and task events are all counted before the pass is
  * summarised. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
