package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  *
  * `SparkContext.listenerBus` is private to Spark's package tree, which
  * is why this one-line bridge lives in it. The benchmark calls it at
  * each op boundary so that jobs, stages, SQL executions and streaming
  * progress events land in the op that caused them.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 120000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
