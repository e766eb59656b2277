package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Replicated-table layout (reference C2 parity: replicated tables
  * are served as ONE split listing every server URL,
  * SnappyDataConnectorHelper.scala:199-213) and the orphan-bucket
  * fallback (SnappyDataConnectorHelper.scala:186-193: a bucket with
  * no live owner is offered every known server).
  */
class ReplicatedTableSpec extends SparkSuite {

  private val name = s"nation_repl_spec@$sf"

  private def replicatedNation() = {
    BucketStore.ensureLoaded(spark, name, sf, "nation", "n_nationkey",
      numBuckets = 1, replicate = true)
    spark.read.format("graft-buckets").option("table", name).load()
  }

  test("replicated table scans as ONE split whose preferred locations are the whole fleet") {
    val df = replicatedNation()
    assert(df.rdd.getNumPartitions === 1)
    val t = BucketStore.get(name)
    val parts = new BucketedScan(name, t.schema, Array.empty, t.version).planInputPartitions()
    assert(parts.length === 1)
    assert(parts.head.preferredLocations().toSeq === BucketStore.fleetOf(4))
  }

  test("replicated read equals the raw parquet read") {
    val got = replicatedNation().collect().map(_.toSeq).toSet
    val exp = graft.tables.Tables.load(spark, sf, "nation").collect().map(_.toSeq).toSet
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("replicated table advertises NO bucket partitioning") {
    replicatedNation()
    assert(new BucketedTable(name).partitioning().isEmpty)
    val props = new BucketedTable(name).properties()
    assert(props.get("replicate") === "true")
  }

  test("a replicated table must have exactly one logical bucket") {
    val e = intercept[IllegalArgumentException] {
      BucketStore.load(spark, s"bad_repl@$sf",
        graft.tables.Tables.load(spark, sf, "region"), "r_regionkey",
        numBuckets = 4, replicate = true)
    }
    assert(e.getMessage.contains("ONE logical bucket"))
  }

  test("dim-side join: replicated table auto-broadcasts from reported stats — " +
      "the only Exchange in the plan is the aggregation's") {
    val q = BucketedQueries.replicatedJoinQuery(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"replicated dim should broadcast without a hint\n${p.take(1200)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"the join must not shuffle the fact side (1 Exchange = the groupBy's), got $exchanges\n${p.take(1200)}")
  }

  test("replicated join query matches the plain-SQL result") {
    val got = BucketedQueries.replicatedJoinQuery(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val exp = graft.tables.Tables.load(spark, sf, "customer")
      .join(graft.tables.Tables.load(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("any single host can serve the replicated bucket: all-but-one down still reads") {
    replicatedNation()
    val fleet = BucketStore.fleetOf(4)
    try {
      fleet.tail.foreach(BucketServers.kill)
      val n = spark.read.format("graft-buckets").option("table", name).load().count()
      assert(n === graft.tables.Tables.load(spark, sf, "nation").count())
    } finally fleet.foreach(BucketServers.revive)
  }

  test("rebucketing a replicated table de-replicates it") {
    val scratch = s"region_repl_spec@$sf"
    BucketStore.drop(scratch)
    BucketStore.load(spark, scratch,
      graft.tables.Tables.load(spark, sf, "region"), "r_regionkey",
      numBuckets = 1, replicate = true)
    assert(BucketStore.get(scratch).replicated)
    BucketStore.rebucket(scratch, 4)
    assert(!BucketStore.get(scratch).replicated)
    assert(BucketStore.get(scratch).buckets.length === 4)
  }

  test("appends through the catalog keep the replicated layout (1 bucket, fleet hosts)") {
    val scratch = s"region_repl_write@$sf"
    BucketStore.drop(scratch)
    BucketStore.load(spark, scratch,
      graft.tables.Tables.load(spark, sf, "region"), "r_regionkey",
      numBuckets = 1, replicate = true)
    val before = spark.table(s"graft.`$scratch`").count()
    graft.tables.Tables.load(spark, sf, "region")
      .withColumn("r_regionkey", col("r_regionkey") + 100)
      .writeTo(s"graft.`$scratch`").append()
    val t = BucketStore.get(scratch)
    assert(t.replicated && t.buckets.length === 1)
    assert(t.hosts(0) === BucketStore.fleetOf(4))
    assert(spark.table(s"graft.`$scratch`").count() === before * 2)
  }

  // ——— orphan buckets ———

  test("orphan bucket: empty host list degrades to the table's whole fleet as candidates") {
    val orphName = s"supplier_orphan@$sf"
    BucketStore.drop(orphName)
    BucketStore.load(spark, orphName,
      graft.tables.Tables.load(spark, sf, "supplier"), "s_suppkey", 4)
    BucketStore.reassignHosts(orphName, 2, Seq.empty)
    val t = BucketStore.get(orphName)
    val parts = new BucketedScan(orphName, t.schema, Array.empty, t.version)
      .planInputPartitions()
    val fleet = t.hosts.toSeq.flatten.distinct
    assert(parts(2).preferredLocations().toSeq === fleet,
      "an orphan bucket must offer every known host, not fail at plan time")
    // and the read completes — the failover dial finds a live host
    val n = spark.read.format("graft-buckets").option("table", orphName).load().count()
    assert(n === graft.tables.Tables.load(spark, sf, "supplier").count())
  }

  test("orphan bucket planned BEFORE the reassignment keeps its pinned placement (MVCC)") {
    val orphName = s"part_orphan@$sf"
    BucketStore.drop(orphName)
    BucketStore.load(spark, orphName,
      graft.tables.Tables.load(spark, sf, "part"), "p_partkey", 4)
    val v0 = BucketStore.currentVersion(orphName)
    val hostsBefore = BucketStore.get(orphName).hosts(1)
    BucketStore.reassignHosts(orphName, 1, Seq.empty)
    val t0 = BucketStore.snapshot(orphName, v0)
    val parts = new BucketedScan(orphName, t0.schema, Array.empty, v0).planInputPartitions()
    assert(parts(1).preferredLocations().toSeq === hostsBefore)
  }

  test("truly dead topology stays loud: a fleet-wide outage fails the orphan read") {
    val orphName = s"orders_orphan@$sf"
    BucketStore.drop(orphName)
    BucketStore.load(spark, orphName,
      graft.tables.Tables.load(spark, sf, "orders"), "o_orderkey", 4)
    BucketStore.reassignHosts(orphName, 0, Seq.empty)
    val t = BucketStore.get(orphName)
    val fleet = t.hosts.toSeq.flatten.distinct
    val part = new BucketedScan(orphName, t.schema, Array.empty, t.version)
      .planInputPartitions()(0).asInstanceOf[BucketInputPartition]
    assert(part.hosts.toSeq === fleet)
    try {
      fleet.foreach(BucketServers.kill)
      val ex = intercept[java.io.IOException] {
        new BucketedPartitionReader(part, t.schema, Array.empty)
      }
      assert(ex.getMessage.contains("all replicas"))
    } finally fleet.foreach(BucketServers.revive)
  }
}
