package org.apache.spark.graftest

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * (`listenerBus` is package-private to Spark, hence this package.)
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
