package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-call Spark counters are complete before they are
  * read. `SparkContext.listenerBus` is private to the `spark` package.
  */
object LoopbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
