package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read right after a job include all of its task and query events. The bus
  * is package-private to Spark, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
