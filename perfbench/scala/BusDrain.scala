package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is asynchronous; metrics read right after a pass
  * would otherwise miss the pass's last job, query and progress events.
  * Lives in this package because the bus is Spark-private. */
object LakeBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
