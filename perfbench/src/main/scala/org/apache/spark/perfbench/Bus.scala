package org.apache.spark.perfbench

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Wait until every event posted so far has reached every listener, for at
   *  most `timeoutMs`. Returns false when the bound is hit. */
  def settle(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
