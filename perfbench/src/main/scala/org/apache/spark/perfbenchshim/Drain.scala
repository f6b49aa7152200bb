package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus drain is Spark-internal. The benchmark drains after
  * every traced operation so each listener event is attributed to the
  * operation that caused it. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
