package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the tracer reads its records only
  * after a drain, so no job, stage or query of a finished span is missed.
  * (`listenerBus` is package-private to Spark, hence this package.)
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
