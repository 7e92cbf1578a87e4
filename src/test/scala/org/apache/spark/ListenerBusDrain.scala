package org.apache.spark

/** The listener bus delivers events asynchronously, so a count read
  * right after an action can miss its last job events.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
