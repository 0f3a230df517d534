package org.apache.spark

/** The listener bus delivers task-end events asynchronously; a span or
  * pass boundary drains it so the counters read there are complete.
  * `listenerBus` is package-private, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
