package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered before it reads its listeners (the bus is spark-private). */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
