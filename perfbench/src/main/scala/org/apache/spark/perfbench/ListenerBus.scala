package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events (jobs, tasks, query executions, streaming progress)
  * reach listeners asynchronously. The bus drain is package-private to
  * Spark, so it is reached from inside Spark's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
