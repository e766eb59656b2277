package org.apache.spark.sql

/** Test-only shim: the listener bus is `private[spark]`; a spec outside
  * Spark's packages waits here until every posted event (a finished
  * task, a SQL execution's plan) has reached its listeners.
  */
object ListenerBusTestBridge {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
