package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so a spec's listener has seen every job of the code it just ran. The
  * listener bus is `private[spark]`; this file lives in Spark's package
  * tree only to reach it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
