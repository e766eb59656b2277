package graft.sources.bucketed

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The byte-budgeted block cache ([[BlockCache]], round 16; HEAP
  * charging round 17): in-heap row arrays are a CACHE over the parquet
  * file set, bounded by a global byte budget — a scan of a table
  * larger than the budget completes in bounded heap (least-recently-
  * touched blocks evict and reload lazily) with answers identical to
  * the unbounded run. Blocks are charged at an estimated HEAP size
  * (sampled at load), so the budget bounds the decoded arrays the JVM
  * actually holds — file-size charging under-protected exactly when
  * compression was best. C10's contract made literal: serving never
  * requires the whole table in memory.
  */
class BlockCacheSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  // the ROW stream: loads blocks into heap (the cache's client). The
  // vectorized/aggregate COLD paths deliberately bypass the heap cache
  // (they stream the file), so this spec pins the cache through the
  // path that actually uses it.
  private def rowScan(t: String) = ScanReference.loadingScan(spark, t)

  /** Per-block estimated heap charge (loads every block first). */
  private def heapSizes(name: String): Seq[Long] = {
    val t = BucketStore.get(name)
    (0 until t.buckets.length).map(b => BlockCache.heapSizeEstimate(t.buckets(b)))
  }

  test("scanning a larger-than-budget table: bounded heap, identical answers, LRU evictions") {
    val name = "bc_bound"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 8000).map(i => (i.toLong, s"tag-$i-${"x" * 40}", i * 1.5)).toDF("k", "tag", "v"),
      "k", 8)
    // plain row collects: aggregates would push down and take the
    // stats-served / cold-projected paths, which never touch the cache
    val want = (1 to 8000).map(i => (i.toLong, s"tag-$i-${"x" * 40}", i * 1.5)).toSet
    assert(rowScan(name).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet === want)

    val sizes = heapSizes(name).sorted
    assert(sizes.length === 8)
    val defaultBudget = BlockCache.budgetBytes
    try {
      // room for ~3 of 8 blocks — the table cannot fit
      val budget = sizes.take(3).sum
      BlockCache.budgetBytes = budget
      BucketStore.evictTable(name)
      assert(BucketStore.get(name).buckets.loadedCount === 0)

      val ev0 = BlockCache.evictions.get()
      val got = rowScan(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got === want, "a budget-bounded scan must return the identical answer")
      assert(BlockCache.evictions.get() > ev0,
        "scanning past the budget must force evictions")
      assert(BucketStore.get(name).buckets.loadedCount < 8,
        "the whole table must never be resident under a 3-block budget")
      assert(BlockCache.loadedBytes <= budget + sizes.max,
        "steady-state residency must stay within budget + one in-flight block")

      // point lookups stay exact under the tiny budget (evict/reload loop)
      (1 to 5).foreach { i =>
        val k = i * 1000L
        assert(rowScan(name).filter(col("k") === k).head().getString(1)
          .startsWith(s"tag-$k-"))
      }
    } finally BlockCache.budgetBytes = defaultBudget
    BucketStore.drop(name)
  }

  test("heap charging: a compressible wide-row table is bounded by HEAP bytes, not file bytes") {
    val name = "bc_wide"
    BucketStore.drop(name)
    // ~2000 chars per row, distinct per row (the decoders share equal
    // strings) but nearly all one repeated char: snappy crushes the
    // FILE while the decoded heap array keeps every char — exactly the
    // shape where file-size charging admitted the whole table under a
    // budget it was actually blowing through
    BucketStore.load(spark, name,
      (1 to 4000).map(i => (i.toLong, "x" * 1990 + i)).toDF("k", "pad"), "k", 8)
    // collect, not count: a pushed count(*) is stats-served and never
    // touches a block — the cache's client is the row stream
    assert(rowScan(name).collect().length === 4000)
    val dir = BucketStore.tableDir(name)
    val fileSum = FileStore.readManifests(dir).last.buckets
      .filter(_.path.nonEmpty)
      .map(b => java.nio.file.Files.size(java.nio.file.Paths.get(b.path))).sum
    val heaps = heapSizes(name)
    assert(fileSum * 2 < heaps.sum / 2,
      s"precondition: files ($fileSum B) must be far smaller than heap (${heaps.sum} B)")
    val defaultBudget = BlockCache.budgetBytes
    try {
      // generous for FILE charging (2x every file byte — the old
      // charging would never evict), tight for heap (~3 of 8 blocks)
      val budget = math.max(fileSum * 2, heaps.sorted.take(3).sum)
      BlockCache.budgetBytes = budget
      BucketStore.evictTable(name)
      val ev0 = BlockCache.evictions.get()
      assert(rowScan(name).collect().length === 4000)
      assert(BlockCache.evictions.get() > ev0,
        "heap charging must evict where file-size charging would have accreted the table")
      assert(BucketStore.get(name).buckets.loadedCount < 8)
      assert(BlockCache.loadedBytes <= budget + heaps.max)
    } finally BlockCache.budgetBytes = defaultBudget
    BucketStore.drop(name)
  }

  test("the heap estimate stays within 2x of SizeEstimator, shared and all-distinct blocks") {
    val shared = "bc_est_shared"
    val distinct = "bc_est_distinct"
    Seq(shared, distinct).foreach(BucketStore.drop)
    // lineitem's shape: a distinct key, low-cardinality flags, a few
    // dozen quantities and dates the decoders share across rows
    BucketStore.load(spark, shared,
      (1 to 4000).map(i => (i.toLong, s"F${i % 3}", (i % 50).toDouble,
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(i % 40))).toDF("k", "f", "q", "d"),
      "k", 4)
    BucketStore.load(spark, distinct,
      (1 to 4000).map(i => (i.toLong, s"distinct-$i-${"y" * 20}", i * 1.5 + 0.1))
        .toDF("k", "s", "v"), "k", 4)
    // the loads' blocks come from the commit payload decoder; after
    // evictTable, the same blocks reload through the block-file decoder
    def check(decoder: String): Unit = Seq(shared, distinct).foreach { name =>
      val t = BucketStore.get(name)
      (0 until t.buckets.length).foreach { b =>
        val rows = t.buckets(b)
        assert(rows.forall(_.isInstanceOf[RowView]), s"$name bucket $b ($decoder)")
        val est = BlockCache.heapSizeEstimate(rows).toDouble
        val real = org.apache.spark.util.SizeEstimator.estimate(rows).toDouble
        assert(est <= 2 * real && real <= 2 * est,
          s"$name bucket $b ($decoder): estimate $est B against SizeEstimator $real B")
      }
    }
    check("payload")
    Seq(shared, distinct).foreach { name =>
      BucketStore.evictTable(name)
      assert(BucketStore.get(name).buckets.loadedCount === 0)
    }
    val reads0 = FileStore.filesRead.get()
    check("file")
    assert(FileStore.filesRead.get() - reads0 === 8, "every block must reload from its file")
    Seq(shared, distinct).foreach(BucketStore.drop)
  }

  test("under the default budget nothing evicts at test scale (bench fold stays flat)") {
    val name = "bc_default"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 2000).map(i => (i.toLong, s"t-$i", i * 1.0)).toDF("k", "tag", "v"), "k", 4)
    val ev0 = BlockCache.evictions.get()
    assert(scan(name).agg(sum("v")).head().getDouble(0) === (1 to 2000).map(_.toDouble).sum)
    assert(BlockCache.evictions.get() === ev0,
      "a quarter-heap budget must never evict at spec scale")
    BucketStore.drop(name)
  }
}
