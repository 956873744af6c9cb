package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal the harness needs: wait until every listener
  * event posted so far has been delivered, so the harness's listeners
  * have seen all jobs, tasks and progress updates of a finished phase. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
