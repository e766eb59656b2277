package graft.sources

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** q92 — the streaming co-bucketed join: a [[BucketMicroBatchStream]]
  * replay of the events table (one partition per bucket, host-local),
  * broadcast-enriched against the co-bucketed customer table. Pins
  * both the result and the plan properties that matter at 100 TB:
  * bucket-pinned stream partitions, a stateless broadcast join, and
  * ZERO shuffle of the streamed rows.
  */
class BucketedStreamSpec extends SparkSuite {

  test("micro-batch stream plans one partition per bucket with locality + snapshot version") {
    BucketStore.ensureLoaded(spark, s"lineitem@$sf", sf, "lineitem", "l_orderkey", 16)
    val t = BucketStore.get(s"lineitem@$sf")
    val ms = new BucketMicroBatchStream(s"lineitem@$sf", t.schema, Array.empty, 1000)
    val parts = ms.planInputPartitions(ms.initialOffset(), ms.latestOffset())
    assert(parts.length === 16)
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.preferredLocations().toSeq === BucketStore.hostsFor(i, 4))
      assert(p.asInstanceOf[BucketInputPartition].version === t.version)
    }
    // caught-up stream plans nothing
    assert(ms.planInputPartitions(ms.latestOffset(), ms.latestOffset()).isEmpty)
    // offsets round-trip through the checkpoint's json form
    assert(BucketStreamOffset.of(ms.deserializeOffset(ms.latestOffset().json())) === t.version)
  }

  test("q92 e2e: streamed co-bucketed join equals the batch join, stateless, zero stream shuffle") {
    // capture every micro-batch physical plan through the SQL listener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = BucketedQueries.streamCoBucketedJoinQuery(spark, sf)
        .collect().map(_.toSeq).toSet
      // stateless enrichment: no state store operator ran
      assert(graft.streaming.StreamOps.lastStateOperatorCount === 0,
        "broadcast stream-static enrichment must not plan a state store")
      val ev = graft.tables.Tables.events(spark, sf)
      val cust = graft.tables.Tables.customer(spark, sf)
      val exp = ev.filter(col("event_type") === "purchase")
        .join(cust, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"),
          unix_micros(col("ts")).as("ts_us"))
        .collect().map(_.toSeq).toSet
      assert(got === exp)
      assert(got.nonEmpty)
      // listener delivery is async: wait for the bus to deliver every plan
      org.apache.spark.sql.ListenerBusTestBridge.drain(spark)
      val batchPlan = plans.toArray(Array.empty[String])
        .find(p => p.contains("MicroBatchScan") && p.contains("graft-buckets"))
      assert(batchPlan.isDefined, "expected a micro-batch execution over the bucket stream")
      val p = batchPlan.get
      assert(p.contains("BroadcastHashJoin"), p.take(1200))
      assert(!p.contains("Exchange hashpartitioning"),
        s"streamed rows must never shuffle — the store's bucket layout is the task layout\n${p.take(1200)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming read fails over to replicas like the batch path (shared reader)") {
    import spark.implicits._
    val df = (1 to 40).map(i => (i, s"v$i")).toDF("id", "v")
    BucketStore.load(spark, "stream_failover_t", df, "id", 4)
    try {
      BucketServers.kill("host-1") // primary of buckets 1; replica of 0
      val stream = spark.readStream.format("graft-buckets")
        .option("table", "stream_failover_t").load()
      val q = stream.writeStream.outputMode("append")
        .format("memory").queryName("stream_failover_sink").start()
      try {
        q.processAllAvailable()
        assert(spark.table("stream_failover_sink").count() === 40,
          "every row must arrive exactly once via the replica chain")
        // a flat table's micro-batches read ColumnarBatches: the bridge
        // sits right above the scan
        val plan = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
        val tree = plan.linesIterator.toIndexedSeq
        val scanAt = tree.indexWhere(_.contains("MicroBatchScan"))
        assert(scanAt > 0 && tree(scanAt - 1).contains("ColumnarToRow"),
          s"a micro-batch must read ColumnarBatches\n${plan.take(1200)}")
      } finally q.stop()
    } finally BucketServers.revive("host-1")
  }

  test("a store reload produces a refresh batch (snapshot-feed semantics)") {
    import spark.implicits._
    val df1 = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    BucketStore.load(spark, "stream_refresh_t", df1, "id", 4)
    val stream = spark.readStream.format("graft-buckets")
      .option("table", "stream_refresh_t").load()
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("stream_refresh_sink").start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_refresh_sink").count() === 3)
      // version bump → one refresh batch replaying the new snapshot
      val df2 = Seq((10, "x"), (11, "y")).toDF("id", "v")
      BucketStore.load(spark, "stream_refresh_t", df2, "id", 4)
      q.processAllAvailable()
      val all = spark.table("stream_refresh_sink").select("id").as[Int].collect().toSeq
      assert(all.sorted === Seq(1, 2, 3, 10, 11),
        "the refresh batch must append exactly the new snapshot's rows")
    } finally q.stop()
  }
}
