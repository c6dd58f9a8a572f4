package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a benchmark that
  * reads listener totals must first wait for every queued event. The
  * wait is package-private to Spark, hence this shim. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
