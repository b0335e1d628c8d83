package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read after a run include its last tasks and triggers.
  * The bus is private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
