package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the bus drain is
  * package-private to Spark, so specs that count events reach it from
  * inside Spark's package. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
