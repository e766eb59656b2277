package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered,
  * so a pass boundary sees all of the pass's job, task and stream-batch
  * events. Lives in Spark's package because the bus is Spark-private.
  */
object ListenerBusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
