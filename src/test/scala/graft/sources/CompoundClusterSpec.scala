package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Compound cluster keys (round 9): `cluster_by` accepts a comma-
  * separated column list; every bucket stays LEXICOGRAPHICALLY sorted
  * on it and a scan slices by the composite-index prefix rule — the
  * longest equality-bounded prefix plus at most one trailing range
  * ([[ClusterRange.compoundFrom]]). Pins exact results, the page-count
  * drop beyond what the leading column alone buys, the prefix rule's
  * refusal to slice on a non-prefix predicate, order maintenance
  * across out-of-order publishes, and the prefix-truncated reported
  * ordering.
  */
class CompoundClusterSpec extends SparkSuite {
  import spark.implicits._

  private def pagesDuring[A](body: => A): (A, Long) = {
    val before = HostConnection.roundTripCount.get()
    val r = body
    (r, HostConnection.roundTripCount.get() - before)
  }

  // 4000 rows over 4 buckets: 8 tenants × 500 seqs each, row key
  // scattered so every bucket holds every (tenant, seq) stratum
  private def loadCompound(): Unit = {
    if (!BucketStore.exists("comp_t")) {
      val df = (0 until 4000)
        .map(i => (i.toLong, s"t${i % 8}", (i / 8).toLong, s"r$i"))
        .toDF("k", "tenant", "seq", "tag")
      BucketStore.load(spark, "comp_t", df, "k", 4, clusterBy = Some("tenant,seq"))
    }
  }

  test("equality on the leading column + range on the second: exact rows, fewer pages than either alone") {
    loadCompound()
    val src = spark.read.format("graft-buckets")
      .option("table", "comp_t").option("fetchsize", "20").load()
    val (fullRows, fullPages) = pagesDuring(src.collect())
    assert(fullRows.length === 4000)
    val q = src.filter(col("tenant") === "t3" && col("seq") >= 100L && col("seq") < 150L)
    val (got, compoundPages) = pagesDuring(q.collect())
    // expected: tenant t3 rows with seq in [100, 150)
    val expect = (0 until 4000).filter(i => i % 8 == 3 && i / 8 >= 100 && i / 8 < 150)
    assert(got.map(_.getLong(0)).sorted.toSeq === expect.map(_.toLong))
    // the leading column alone bounds ~1/8 of each bucket; the
    // compound slice bounds the 50-seq run WITHIN it
    val (tenantRows, tenantPages) = pagesDuring(src.filter(col("tenant") === "t3").collect())
    assert(tenantRows.length === 500)
    assert(compoundPages < tenantPages,
      s"compound slice ($compoundPages pages) must beat the tenant-only slice ($tenantPages)")
    assert(tenantPages * 4 < fullPages,
      s"leading-column slice ($tenantPages pages) must beat the full scan ($fullPages)")
  }

  test("the prefix rule: a range on the SECOND column alone does not slice (and stays correct)") {
    loadCompound()
    val src = spark.read.format("graft-buckets").option("table", "comp_t").load()
    val q = src.filter(col("seq") === 42L)
    // no usable prefix → no clusterSlice surfaced in the plan
    val desc = q.queryExecution.executedPlan.toString
    assert(!desc.contains("clusterSlice"),
      s"non-prefix predicate must not claim a slice:\n${desc.take(1200)}")
    assert(q.collect().map(_.getString(1)).sorted.toSeq ===
      (0 until 8).map(t => s"t$t"), "row filter still answers exactly")
    // equality prefix + range shows the compound slice in the plan
    val sliced = src.filter(col("tenant") === "t1" && col("seq") < 10L)
    val sdesc = sliced.queryExecution.executedPlan.toString
    assert(sdesc.contains("clusterSlice=(tenant"),
      s"compound slice must surface in the scan description:\n${sdesc.take(1200)}")
  }

  test("a range on the LEADING column slices without bounds on the second") {
    loadCompound()
    val src = spark.read.format("graft-buckets")
      .option("table", "comp_t").option("fetchsize", "20").load()
    val (fullRows, fullPages) = pagesDuring(src.collect())
    assert(fullRows.length === 4000)
    val (got, pages) = pagesDuring(src.filter(col("tenant") < "t1").collect())
    assert(got.length === 500 && got.forall(_.getString(1) == "t0"))
    assert(pages * 4 < fullPages, s"leading range used $pages vs $fullPages pages")
  }

  test("out-of-order appends keep the lexicographic order (delta merge, not re-sort)") {
    BucketStore.drop("comp_merge")
    val first = Seq((1L, "b", 20L), (2L, "a", 10L), (3L, "b", 5L))
      .toDF("k", "tenant", "seq")
    BucketStore.load(spark, "comp_merge", first, "k", 1, clusterBy = Some("tenant,seq"))
    spark.sql("INSERT INTO graft.comp_merge VALUES (4, 'a', 99), (5, 'a', 1), (6, 'b', 7)")
    val t = BucketStore.get("comp_merge")
    val stored = t.buckets(0).map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(stored === Seq(("a", 1L), ("a", 10L), ("a", 99L), ("b", 5L), ("b", 7L), ("b", 20L)),
      s"bucket must stay (tenant, seq)-sorted after append, got $stored")
  }

  test("merge-on-read delta folds back in compound order") {
    BucketStore.drop("comp_mor")
    val df = Seq((1L, "a", 10L, "x"), (2L, "b", 5L, "y"), (3L, "a", 30L, "z"))
      .toDF("k", "tenant", "seq", "tag")
    BucketStore.load(spark, "comp_mor", df, "k", 1, clusterBy = Some("tenant,seq"))
    BucketStore.setDmlMode("comp_mor", BucketStore.MergeOnRead)
    // MOR UPDATE: deletion vector + delta row, folded at read
    spark.sql("UPDATE graft.comp_mor SET seq = 20 WHERE tag = 'y'")
    val got = spark.table("graft.comp_mor")
      .select("tenant", "seq").as[(String, Long)].collect().toSeq
    // fetch serves the folded bucket in cluster order — no Sort above
    assert(got === Seq(("a", 10L), ("a", 30L), ("b", 20L)),
      s"folded read must stream in (tenant, seq) order, got $got")
  }

  test("reported ordering is the projected PREFIX of the compound key") {
    loadCompound()
    // both cluster columns projected → orderBy(tenant, seq) plans no Sort
    val both = spark.table("graft.comp_t").select("tenant", "seq", "tag")
      .orderBy(col("tenant"), col("seq"))
    // per-partition ordering claim: the local sort is elided (the
    // global orderBy still plans its range exchange)
    assert(!both.queryExecution.executedPlan.toString.matches("(?s).*Sort \\[tenant.*local.*"),
      "projected compound prefix must elide the local Sort")
    // seq alone is NOT a valid order claim: rows are only seq-sorted
    // within a tenant run — a plan ordering by seq must keep its Sort
    val seqOnly = spark.table("graft.comp_t").select("seq", "tag").orderBy(col("seq"))
    assert(seqOnly.queryExecution.executedPlan.toString.contains("Sort"),
      "non-prefix projection must not inherit an ordering claim")
    assert(seqOnly.select("seq").as[Long].collect().toSeq ===
      (0 until 4000).map(i => (i / 8).toLong).sorted)
  }

  test("recluster onto a compound key via CALL, validated loudly") {
    BucketStore.drop("comp_rc")
    val df = (0 until 100).map(i => (i.toLong, s"t${i % 3}", (i % 7).toLong))
      .toDF("k", "tenant", "seq")
    BucketStore.load(spark, "comp_rc", df, "k", 2)
    spark.sql("CALL graft.recluster('comp_rc', 'tenant,seq')").collect()
    val t = BucketStore.get("comp_rc")
    assert(t.clusterCol === Some("tenant,seq"))
    t.buckets.foreach { b =>
      val keys = b.map(r => (r.getString(1), r.getLong(2))).toSeq
      assert(keys === keys.sorted, s"bucket not (tenant, seq)-sorted: $keys")
    }
    val bad = intercept[Exception] {
      spark.sql("CALL graft.recluster('comp_rc', 'tenant,nope')").collect()
    }
    assert(bad.getMessage.contains("nope"))
  }
}
