package org.apache.spark.perfbench

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Waits for Spark's listener bus to deliver every queued event. The bus
  * is private to Spark, so this one call lives in a Spark package. */
object BusDrain {
  /** True when the bus emptied within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
