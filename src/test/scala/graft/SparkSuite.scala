package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the engine's own session
  * ([[GraftSession.builder]]) on 4 local cores.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder(getClass.getSimpleName, "local[4]", shufflePartitions = 4).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the session's `spark.sql.autoBroadcastJoinThreshold`
    * set to `v` ("-1": no join broadcasts by size), restoring it after.
    */
  def withBroadcastThreshold[A](v: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }
}
