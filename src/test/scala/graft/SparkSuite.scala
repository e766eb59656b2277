package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one lazy SparkSession per suite. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // single node: the bucket store's simulated host preferences can
    // never be satisfied, and delay scheduling starves mixed-locality
    // stages on them (see GraftSession for the full story)
    .config("spark.locality.wait", "0s")
    .getOrCreate()

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
