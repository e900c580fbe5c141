package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Flushes the asynchronous listener bus so listener totals read after a
  * workload are complete. `listenerBus` is `private[spark]`, hence the
  * package.
  */
object Drain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
