package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Clustered-bucket range index (round 7): tables loaded/declared
  * with a cluster column keep every bucket SORTED on it, and a scan
  * whose pushed conjuncts bound that column fetches a binary-searched
  * slice — pages moved ∝ answer. Pins correctness (slice never drops
  * a qualifying row, nulls handled), the page-count drop, sort
  * maintenance across DML publishes, and the plan-visible slice.
  */
class ClusteredScanSpec extends SparkSuite {

  private def pagesDuring[A](body: => A): (A, Long) = {
    val before = HostConnection.roundTripCount.get()
    val r = body
    (r, HostConnection.roundTripCount.get() - before)
  }

  private def loadClustered(): Unit = {
    import spark.implicits._
    if (!BucketStore.exists("clust_t")) {
      // 4000 rows over 8 buckets; seq is the cluster column, scattered
      // across keys so every bucket holds the full seq range
      val df = (0 until 4000).map(i => ((i % 97).toLong, i.toLong, s"r$i")).toDF("k", "seq", "tag")
      BucketStore.load(spark, "clust_t", df, "k", 8, clusterBy = Some("seq"))
    }
  }

  test("range scan over clustered buckets: exact rows, far fewer pages") {
    loadClustered()
    val src = spark.read.format("graft-buckets")
      .option("table", "clust_t").option("fetchsize", "50").load()
    val (fullRows, fullPages) = pagesDuring(src.collect())
    assert(fullRows.length === 4000)
    // ~2% window
    val (got, rangePages) = pagesDuring(
      src.filter(col("seq") >= 1000L && col("seq") < 1080L).collect())
    assert(got.map(_.getLong(1)).sorted.toSeq === (1000L until 1080L).toSeq)
    assert(rangePages * 5 < fullPages,
      s"range fetch used $rangePages pages vs $fullPages for the full scan — slice not applied")
  }

  test("the slice is never load-bearing: filters still checked row-wise (exclusive bounds, equality)") {
    loadClustered()
    val src = spark.read.format("graft-buckets").option("table", "clust_t").load()
    assert(src.filter(col("seq") > 100L && col("seq") <= 105L).collect()
      .map(_.getLong(1)).sorted.toSeq === (101L to 105L).toSeq)
    assert(src.filter(col("seq") === 2024L).collect().map(_.getLong(1)).toSeq === Seq(2024L))
    // contradictory bounds → empty, not an error
    assert(src.filter(col("seq") > 10L && col("seq") < 5L).collect().isEmpty)
  }

  test("null cluster values sort first and never satisfy a range predicate") {
    import spark.implicits._
    BucketStore.drop("clust_null")
    val df = Seq((1L, Some(5L), "a"), (2L, None, "b"), (3L, Some(1L), "c"), (4L, None, "d"))
      .toDF("k", "seq", "tag")
    BucketStore.load(spark, "clust_null", df, "k", 2, clusterBy = Some("seq"))
    val src = spark.read.format("graft-buckets").option("table", "clust_null").load()
    assert(src.filter(col("seq") >= 0L).collect().map(_.getString(2)).sorted.toSeq === Seq("a", "c"))
    assert(src.filter(col("seq") <= 10L).collect().map(_.getString(2)).sorted.toSeq === Seq("a", "c"))
    assert(src.filter(col("seq").isNull).collect().map(_.getString(2)).sorted.toSeq === Seq("b", "d"))
  }

  test("DML publishes maintain the cluster order (INSERT, UPDATE, DELETE)") {
    spark.sql("DROP TABLE IF EXISTS graft.clust_dml")
    spark.sql("CREATE TABLE graft.clust_dml (k BIGINT, seq BIGINT, tag STRING) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('cluster_by'='seq')")
    assert(BucketStore.get("clust_dml").clusterCol === Some("seq"))
    // inserts arrive out of order; UPDATE rewrites a bucket COW-style
    spark.sql("INSERT INTO graft.clust_dml VALUES (1, 30, 'c'), (2, 10, 'a'), (3, 20, 'b')")
    spark.sql("INSERT INTO graft.clust_dml VALUES (4, 15, 'x'), (5, 5, 'y')")
    spark.sql("UPDATE graft.clust_dml SET seq = 99 WHERE tag = 'a'")
    spark.sql("DELETE FROM graft.clust_dml WHERE tag = 'y'")
    val t = BucketStore.get("clust_dml")
    val i = t.schema.fieldIndex("seq")
    t.buckets.foreach { rows =>
      val seqs = rows.map(_.getLong(i)).toSeq
      assert(seqs === seqs.sorted, s"bucket lost cluster order: $seqs")
    }
    val src = spark.read.format("graft-buckets").option("table", "clust_dml").load()
    // survivors ≥ 20: b(20), c(30), and the updated a(99)
    assert(src.filter(col("seq") >= 20L).collect().map(_.getString(2)).sorted.toSeq ===
      Seq("a", "b", "c"))
  }

  test("index-ordered TopN: ORDER BY the cluster column LIMIT n stops after ~n rows per bucket") {
    loadClustered()
    val src = spark.read.format("graft-buckets")
      .option("table", "clust_t").option("fetchsize", "50").load()
    val (asc, ascPages) = pagesDuring(
      src.orderBy(col("seq").asc, col("k").asc).limit(5).collect())
    assert(asc.map(_.getLong(1)).toSeq === (0L until 5L).toSeq)
    // the multi-key sort still pushes (seq is a total enough prefix for
    // the index path? no — 2 keys decline the short-circuit), so pin
    // the SINGLE-key case explicitly:
    val (single, singlePages) = pagesDuring(
      src.orderBy(col("seq").asc).limit(5).collect())
    assert(single.map(_.getLong(1)).toSeq === (0L until 5L).toSeq)
    assert(singlePages <= 8 + 2,
      s"index-ordered TopN should read ~1 page per bucket, used $singlePages")
    assert(ascPages >= singlePages, "heap path cannot use fewer pages than the index path")
    // descending = the same run streamed in reverse: still ~1 page/bucket
    val (desc, descPages) = pagesDuring(
      src.orderBy(col("seq").desc).limit(3).collect())
    assert(desc.map(_.getLong(1)).toSeq === Seq(3999L, 3998L, 3997L))
    assert(descPages <= 8 + 2,
      s"reverse index-ordered TopN should read ~1 page per bucket, used $descPages")
    // an order the layout cannot serve (desc nulls FIRST) falls back to
    // the heap — correctness unchanged
    val descNf = src.orderBy(col("seq").desc_nulls_first).limit(3).collect()
      .map(_.getLong(1)).toSeq
    assert(descNf === Seq(3999L, 3998L, 3997L))
  }

  test("the planned scan surfaces the cluster slice (audit hook)") {
    loadClustered()
    val q = spark.read.format("graft-buckets").option("table", "clust_t").load()
      .filter(col("seq") >= 7L && col("seq") < 9L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("clusterSlice=(seq"), plan.take(800))
  }

  test("APPEND restores cluster order by delta-merge on hash AND range layouts; slices stay effective") {
    import spark.implicits._
    // — hash-clustered table: bulk load ordered, append a SHUFFLED delta —
    BucketStore.drop("clust_app")
    val base = (0 until 3000).map(i => ((i % 53).toLong, i.toLong, s"r$i")).toDF("k", "seq", "tag")
    BucketStore.load(spark, "clust_app", base, "k", 8, clusterBy = Some("seq"))
    // deterministic permutation of 3000..3399 (181 coprime to 400)
    val adds = (0 until 400).map(j => 3000 + ((j * 181) % 400))
    assert(adds.toSeq != adds.sorted, "the delta must arrive out of order")
    adds.map(s => ((s % 53).toLong, s.toLong, s"a$s")).toDF("k", "seq", "tag")
      .writeTo("graft.`clust_app`").append()
    val t = BucketStore.get("clust_app")
    val si = t.schema.fieldIndex("seq")
    t.buckets.foreach { rows =>
      val seqs = rows.map(_.getLong(si))
      assert(seqs.sameElements(seqs.sorted), "append must restore in-bucket cluster order")
    }
    val src = spark.read.format("graft-buckets")
      .option("table", "clust_app").option("fetchsize", "50").load()
    val (fullRows, fullPages) = pagesDuring(src.collect())
    assert(fullRows.length === 3400)
    // a window entirely inside the APPENDED range still fetches slices
    val (got, rangePages) = pagesDuring(
      src.filter(col("seq") >= 3100L && col("seq") < 3180L).collect())
    assert(got.map(_.getLong(1)).sorted.toSeq === (3100L until 3180L).toSeq)
    assert(rangePages * 5 < fullPages,
      s"post-append range fetch used $rangePages pages vs $fullPages full — slice lost")

    // — range-layout table: appended rows must ROUTE by boundary and
    //   keep the in-bucket key order the layout binary-searches —
    BucketStore.drop("range_app")
    val df2 = (0 until 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketStore.load(spark, "range_app", df2, "k", 4)
    spark.sql("CALL graft.repartition_range('range_app', 4)").collect()
    val adds2 = (0 until 200).map(j => ((j * 191) % 2000).toLong)
    adds2.map(s => (s, s"a$s")).toDF("k", "v").writeTo("graft.`range_app`").append()
    val rt = BucketStore.get("range_app")
    val bounds = rt.rangeBounds.get
    rt.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(BucketStore.routeBucket(Some(bounds), rt.schema("k").dataType, 4, r.get(0)) === b,
        s"appended row k=${r.get(0)} violates boundary ownership of bucket $b"))
      val ks = rows.map(_.getLong(0))
      assert(ks.sameElements(ks.sorted), "range bucket lost key order after append")
    }
    val expected = (0 until 2000).count(k => k >= 500 && k < 540) +
      adds2.count(s => s >= 500L && s < 540L)
    val rsrc = spark.read.format("graft-buckets").option("table", "range_app").load()
    val rq = rsrc.filter(col("k") >= 500L && col("k") < 540L)
    assert(rq.count().toInt === expected)
    // disjoint per-bucket key ranges keep pruning after the append
    assert(rq.rdd.getNumPartitions <= 2,
      s"a 40-key window should plan <=2 of 4 range buckets, got ${rq.rdd.getNumPartitions}")
  }

  test("CALL graft.recluster: an unclustered table gains the sliced range path") {
    import spark.implicits._
    BucketStore.drop("reclust_t")
    val df = (0 until 2000).map(i => ((i % 31).toLong, i.toLong, s"r$i")).toDF("k", "seq", "tag")
    BucketStore.load(spark, "reclust_t", df, "k", 4) // NOT clustered
    val src = spark.read.format("graft-buckets")
      .option("table", "reclust_t").option("fetchsize", "50").load()
    val (_, pagesBefore) = pagesDuring(
      src.filter(col("seq") >= 500L && col("seq") < 540L).collect())

    val res = spark.sql("CALL graft.recluster('reclust_t', 'seq')").collect()
    assert(res.head.getString(0) === "seq")
    assert(BucketStore.get("reclust_t").clusterCol.contains("seq"))
    // buckets are now sorted on seq...
    BucketStore.get("reclust_t").buckets.foreach { rows =>
      val seqs = rows.map(_.getLong(1))
      assert(seqs.sameElements(seqs.sorted), "bucket not sorted after recluster")
    }
    // ...and the same range query fetches slices: same rows, fewer pages
    val (got, pagesAfter) = pagesDuring(
      src.filter(col("seq") >= 500L && col("seq") < 540L).collect())
    assert(got.map(_.getLong(1)).sorted.toSeq === (500L until 540L).toSeq)
    assert(pagesAfter < pagesBefore,
      s"recluster must enable the slice: $pagesAfter vs $pagesBefore pages")
    // time travel still serves the PRE-recluster (unclustered) snapshot
    // and re-running is a loud no-op
    val same = intercept[Exception](spark.sql("CALL graft.recluster('reclust_t', 'seq')"))
    assert(same.getMessage.contains("already clustered"), same.getMessage)
    val bogus = intercept[Exception](spark.sql("CALL graft.recluster('reclust_t', 'zzz')"))
    assert(bogus.getMessage.contains("not in schema"), bogus.getMessage)
  }
}
