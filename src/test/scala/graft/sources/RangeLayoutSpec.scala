package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.BucketStore

/** RANGE bucket layout (`CALL graft.repartition_range`): boundary
  * routing, zone-map ownership pruning, DML re-routing through the
  * boundaries, and the way back to hash.
  */
class RangeLayoutSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  /** Every stored row must sit in the bucket its key routes to — the
    * layout invariant a mis-routing writer would break invisibly
    * (zone maps adapt to wherever rows land, so only this internal
    * check catches it).
    */
  private def assertLayout(name: String): Unit = {
    val t = BucketStore.get(name)
    val bounds = t.rangeBounds.get
    val keyIdx = t.schema.fieldIndex(t.keyCol)
    val keyType = t.schema(keyIdx).dataType
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach { r =>
        val v = if (r.isNullAt(keyIdx)) null else r.get(keyIdx)
        assert(BucketStore.rangeBucketFor(bounds, keyType, v) === b,
          s"key $v stored in bucket $b, owned by ${BucketStore.rangeBucketFor(bounds, keyType, v)}")
      }
    }
  }

  test("repartition_range: disjoint key ranges, range scans prune to owning buckets") {
    val df = (1 to 4000).map(i => (i.toLong, i % 7)).toDF("k", "grp")
    BucketStore.drop("rng_t")
    BucketStore.load(spark, "rng_t", df, "k", 16)
    spark.sql("CALL graft.repartition_range('rng_t', 8)")
    assertLayout("rng_t")
    // a one-octile window plans ~1 of 8 buckets and answers exactly
    val win = scan("rng_t").filter(col("k").between(100L, 400L))
    assert(win.rdd.getNumPartitions <= 2,
      s"range window should prune to the owning bucket(s), planned ${win.rdd.getNumPartitions}")
    assert(win.count() === 301L)
    // key point lookup: hash pruning is off, zone pruning takes over
    val pt = scan("rng_t").filter(col("k") === 2500L)
    assert(pt.rdd.getNumPartitions === 1)
    assert(pt.collect().map(_.getLong(0)).toSeq === Seq(2500L))
  }

  test("DML through a range layout routes moved keys by boundary, not hash") {
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketStore.drop("rng_dml")
    BucketStore.load(spark, "rng_dml", df, "k", 8)
    spark.sql("CALL graft.repartition_range('rng_dml', 8)")
    // key-moving UPDATE: the rewritten row must land by RANGE routing
    spark.sql("UPDATE graft.`rng_dml` SET k = 99999 WHERE k = 5")
    // plain INSERT routes through the same writer
    spark.sql("INSERT INTO graft.`rng_dml` VALUES (-7, 'low'), (50000, 'high')")
    assertLayout("rng_dml")
    assert(scan("rng_dml").filter(col("k") === 99999L).count() === 1L)
    assert(scan("rng_dml").filter(col("k") === 5L).count() === 0L)
    assert(scan("rng_dml").filter(col("k") < 0L).collect()
      .map(_.getString(1)).toSeq === Seq("low"))
    assert(scan("rng_dml").count() === 2002L)
  }

  test("rebucket is the way back: bounds cleared, hash pruning resumes") {
    val df = (1 to 500).map(i => (i.toLong, i)).toDF("k", "x")
    BucketStore.drop("rng_back")
    BucketStore.load(spark, "rng_back", df, "k", 8)
    spark.sql("CALL graft.repartition_range('rng_back', 8)")
    assert(BucketStore.get("rng_back").rangeBounds.isDefined)
    spark.sql("CALL graft.rebucket('rng_back', 4)")
    assert(BucketStore.get("rng_back").rangeBounds.isEmpty,
      "re-hashing must clear the range boundaries")
    val pt = scan("rng_back").filter(col("k") === 123L)
    assert(pt.rdd.getNumPartitions === 1)
    assert(pt.count() === 1L)
    assert(scan("rng_back").count() === 500L)
  }

  test("writes into a RANGE table request an ordered (range) distribution, not the hash transform") {
    val df = (1 to 300).map(i => (i.toLong, i)).toDF("k", "x")
    BucketStore.drop("rng_wd")
    BucketStore.load(spark, "rng_wd", df, "k", 8)
    spark.sql("CALL graft.repartition_range('rng_wd', 8)")
    val plan = spark.sql(
      "EXPLAIN INSERT INTO graft.`rng_wd` SELECT k + 10000, x FROM graft.`rng_wd`")
      .collect().head.getString(0)
    assert(plan.contains("rangepartitioning"),
      s"range-table writes must range-exchange by key:\n${plan.take(1500)}")
    // and the write itself routes correctly through the boundaries
    spark.sql("INSERT INTO graft.`rng_wd` SELECT k + 10000, x FROM graft.`rng_wd`")
    assertLayout("rng_wd")
    assert(scan("rng_wd").count() === 600L)
  }

  test("CDC refuses windows spanning a SAME-count layout change (epoch, not count)") {
    val df = (1 to 300).map(i => (i.toLong, i)).toDF("k", "x")
    BucketStore.drop("rng_cdc")
    BucketStore.load(spark, "rng_cdc", df, "k", 8)
    val v0 = BucketStore.currentVersion("rng_cdc")
    spark.sql("CALL graft.repartition_range('rng_cdc', 8)") // 8 → 8: count unchanged
    spark.sql("DELETE FROM graft.`rng_cdc` WHERE k = 7")
    val vEnd = BucketStore.currentVersion("rng_cdc")
    val ex = intercept[Exception] {
      spark.read.format("graft-buckets")
        .option("table", "rng_cdc").option("mode", "cdc")
        .option("changesStart", v0.toString).option("changesEnd", vEnd.toString)
        .load().collect()
    }
    assert(ex.getMessage.contains("layout change"), ex.getMessage)
    // a window STARTING at the new layout is diffable
    val after = spark.read.format("graft-buckets")
      .option("table", "rng_cdc").option("mode", "cdc")
      .option("changesStart", (vEnd - 1).toString).option("changesEnd", vEnd.toString)
      .load().collect()
    assert(after.length === 1)
  }

  test("same-count rebucket FROM a range layout is the way back to hash") {
    val df = (1 to 200).map(i => (i.toLong, i)).toDF("k", "x")
    BucketStore.drop("rng_same")
    BucketStore.load(spark, "rng_same", df, "k", 8)
    spark.sql("CALL graft.repartition_range('rng_same', 8)")
    spark.sql("CALL graft.rebucket('rng_same', 8)") // same count, layout flips back
    assert(BucketStore.get("rng_same").rangeBounds.isEmpty)
    assert(scan("rng_same").filter(col("k") === 55L).count() === 1L)
    // a same-count rebucket of a HASH table stays a loud no-op error
    val ex = intercept[Exception] { spark.sql("CALL graft.rebucket('rng_same', 8)") }
    assert(ex.getMessage.contains("already has"))
  }

  test("CALL graft.stats surfaces the layout: overlapping hash ranges become disjoint range ones") {
    val df = (1 to 800).map(i => (i.toLong, i)).toDF("k", "x")
    BucketStore.drop("rng_stats")
    BucketStore.load(spark, "rng_stats", df, "k", 4)
    val hashRows = spark.sql("CALL graft.stats('rng_stats')").collect()
    assert(hashRows.length === 4 && hashRows.forall(_.getString(4) === "hash"))
    assert(hashRows.map(_.getLong(1)).sum === 800L)
    spark.sql("CALL graft.repartition_range('rng_stats', 4)")
    val rngRows = spark.sql("CALL graft.stats('rng_stats')").collect()
      .sortBy(_.getInt(0))
    assert(rngRows.forall(_.getString(4) === "range"))
    // disjoint, ordered key ranges — the property the pruning exploits
    val spans = rngRows.map(r => (r.getString(2).toLong, r.getString(3).toLong))
    spans.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo) }
    assert(spans.map { case (lo, hi) => hi - lo + 1 }.sum === 800L)
    // COLD observability: the same call on a fully evicted table
    // serves counts from metadata and bounds from manifest-seeded /
    // streamed skip stats — identical answers, zero heap faults
    BucketStore.evictTable("rng_stats")
    assert(BucketStore.get("rng_stats").buckets.loadedCount === 0)
    val coldRows = spark.sql("CALL graft.stats('rng_stats')").collect().sortBy(_.getInt(0))
    assert(coldRows.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
      === rngRows.map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq)
    assert(BucketStore.get("rng_stats").buckets.loadedCount === 0,
      "CALL graft.stats on a cold table must not fault a single block")
  }

  test("streaming keyed upsert into a RANGE table routes by boundary") {
    val df = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketStore.drop("rng_ups")
    BucketStore.load(spark, "rng_ups", df, "k", 8)
    spark.sql("CALL graft.repartition_range('rng_ups', 8)")
    // update-mode stream: one changed key + one brand-new key landing
    // OUTSIDE the last boundary (unbounded top bucket)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData((7L, "updated"), (99999L, "new-high"))
    val ckpt = java.nio.file.Files.createTempDirectory("rng_ups_ckpt_").toString
    val q = in.toDF().toDF("k", "v").writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .option("upsert", "true")
      .toTable("graft.`rng_ups`")
    try q.processAllAvailable() finally q.stop()
    assertLayout("rng_ups")
    assert(scan("rng_ups").count() === 401L)
    assert(scan("rng_ups").filter(col("k") === 7L).collect()
      .map(_.getString(1)).toSeq === Seq("updated"))
    assert(scan("rng_ups").filter(col("k") === 99999L).count() === 1L)
  }

  test("zone-pruned GLOBAL pushed aggregate still answers count=0, not NULL") {
    val df = (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("k", "price")
    BucketStore.drop("skip_agg")
    BucketStore.load(spark, "skip_agg", df, "k", 8)
    // the predicate zone-prunes EVERY bucket; the pushed global
    // aggregate must keep one empty reader alive so the merged result
    // is 0/NULL-min, never a no-rows NULL count
    val r = spark.sql(
      "SELECT count(*) AS n, min(price) AS mn FROM graft.`skip_agg` WHERE price > 1e12")
      .collect().head
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1))
  }

  test("repartition_range refuses an empty table; empty buckets under skew are fine") {
    BucketStore.drop("rng_skew")
    // all keys identical: every row lands in bucket 0, others stay empty
    val df = (1 to 100).map(_ => (42L, 1)).toDF("k", "x")
    BucketStore.load(spark, "rng_skew", df, "k", 4)
    spark.sql("CALL graft.repartition_range('rng_skew', 4)")
    assertLayout("rng_skew")
    assert(scan("rng_skew").count() === 100L)
    BucketStore.drop("rng_empty")
    BucketStore.load(spark, "rng_empty", Seq.empty[(Long, Int)].toDF("k", "x"), "k", 4)
    val ex = intercept[Exception] {
      spark.sql("CALL graft.repartition_range('rng_empty', 4)")
    }
    assert(ex.getMessage.contains("empty table"))
  }
}
