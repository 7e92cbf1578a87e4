package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a counter snapshot
  * taken right after an action would miss its last task and job events.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
