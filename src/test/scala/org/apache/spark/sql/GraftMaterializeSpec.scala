package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftMaterialize.{broadcastable, materialize, recorded, rowCount}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** `materialize` records the frame's measured size, and the planner
  * reads it. (The spec sits in the bridge's package for the listener
  * bus's `waitUntilEmpty`.)
  */
class GraftMaterializeSpec extends SparkSuite {

  test("the recorded row count equals count()") {
    val df = spark.range(0, 5000, 1, 4).select(col("id"), (col("id") % 7).as("k"))
      .filter(col("k") < 3)
    val m = materialize(df, "spec_rows")
    assert(rowCount(m) === df.count())
    assert(rowCount(m) === m.count())
    val empty = materialize(df.filter(col("k") > 10), "spec_empty")
    assert(rowCount(empty) === 0L)
    assert(empty.collect().isEmpty)
  }

  test("one job per call") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    // a frame with no shuffle: a shuffle stage would run as its own job
    // under AQE, exactly as it does under localCheckpoint
    val df = spark.range(0, 10000, 1, 4).select(col("id"), (col("id") * 3).as("v"))
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val m = materialize(df, "spec_jobs")
      sc.listenerBus.waitUntilEmpty()
      assert(jobs.get === 1, "materialize must compute and measure the frame in one job")
      rowCount(m)
      broadcastable(m)
      sc.listenerBus.waitUntilEmpty()
      assert(jobs.get === 1, "reading the recorded statistics must run no job")
    } finally sc.removeSparkListener(listener)
  }

  test("an array<double> frame records at least its real byte size") {
    val rows = 200
    val dims = 64
    val df = spark.range(0, rows, 1, 4)
      .select(col("id"), array((0 until dims).map(i => (col("id") + i).cast("double")): _*)
        .as("embedding"))
    val m = materialize(df, "spec_bytes")
    // every embedding carries dims doubles: the payload alone
    val payload = BigInt(rows.toLong * dims * 8)
    assert(recorded(m).sizeInBytes >= payload,
      s"recorded ${recorded(m).sizeInBytes} B < the ${payload} B of doubles the rows hold")
    // the schema's default sizes count the array as 8 bytes: a
    // checkpoint carrying an estimate from them under-sizes it ~60×
    val schemaEstimate = BigInt(rows.toLong * (8 + 8 + 8))
    assert(recorded(m).sizeInBytes > schemaEstimate * 10)
  }

  test("the planner reads the recorded size: broadcast under the threshold, shuffle at -1") {
    // 100 rows, computed through a join the planner estimates as the
    // product of its inputs — gigabytes
    val keys = spark.range(0, 2000).select((col("id") % 100).as("k"))
    val perKey = keys.join(keys, "k").groupBy(col("k")).agg(count(lit(1)).as("n"))
    // far past the 10 MB default by the planner's own estimate of a range
    val big = spark.range(0, 2000000, 1, 4).select((col("id") % 1000).as("k"), col("id").as("v"))
    def plan(side: DataFrame): String = big.join(side, "k").queryExecution.executedPlan.toString
    // Dataset.localCheckpoint hands the planner the origin's estimate
    assert(!plan(perKey.localCheckpoint(true)).contains("BroadcastHashJoin"))
    val small = materialize(perKey, "spec_small")
    assert(rowCount(small) === 100L)
    // no hint anywhere: the recorded size alone decides
    assert(plan(small).contains("BroadcastHashJoin"))
    assert(broadcastable(small))
    assert(big.join(small, "k").count() === 200000L)
    withBroadcastThreshold("-1") {
      val p = plan(small)
      assert(!p.contains("BroadcastHashJoin") && p.contains("SortMergeJoin"), p)
      assert(!broadcastable(small))
    }
  }

  test("a frame that was not materialized has no recorded statistics") {
    val e = intercept[IllegalArgumentException](rowCount(spark.range(3).toDF()))
    assert(e.getMessage.contains("not a materialized frame"))
  }

  test("reliable materialize records the same statistics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-materialize-spec")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val df = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 5).as("k"))
    try {
      val m = materialize(df, "spec_reliable", reliable = true)
      assert(rowCount(m) === 1000L)
      assert(m.filter(col("k") === 0).count() === 200L)
    } finally {
      val tree = java.nio.file.Files.walk(dir)
      try tree.sorted(java.util.Comparator.reverseOrder())
        .forEach { p => java.nio.file.Files.delete(p) }
      finally tree.close()
    }
  }
}
