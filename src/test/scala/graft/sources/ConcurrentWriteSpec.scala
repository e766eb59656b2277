package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.SparkSuite
import graft.sources.bucketed.{BucketFunction, BucketStore}

/** Optimistic concurrency at the store's commit protocol (gated
  * end-to-end by q249): copy-on-write group replacements carry the
  * snapshot version their scan pinned and conflict at BUCKET
  * granularity; merge-on-read deltas conflict at ROW-POSITION
  * granularity (base identity + delta-prefix + no double-delete).
  * Before this, a COW rewrite committed blind (a concurrent commit to
  * the same bucket was silently lost) and a MoR delta refused ANY
  * interleaving commit, even a disjoint one.
  */
class ConcurrentWriteSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def freshTable(name: String): Unit = {
    val df = (1L to 400L).map(k => (k, k * 10.0)).toDF("k", "v")
    BucketStore.drop(name)
    BucketStore.load(spark, name, df, "k", 8)
  }

  private def bkt(k: Long): Int = BucketFunction.bucketFor(k, 8).get

  // keys with known routing (verified here, hardcoded in q249):
  // 1 ≠ 2; 3 = 7 (Murmur3 seed 42, 8 buckets)
  test("routing assumptions behind the conflict keys hold") {
    assert(bkt(1L) !== bkt(2L))
    assert(bkt(3L) === bkt(7L))
  }

  test("COW: a disjoint-bucket interleave rebases; a same-bucket one conflicts; retry lands") {
    freshTable("ccw_cow")
    // disjoint: UPDATE k=1 while a DELETE of k=2 lands mid-statement
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      BucketStore.deleteWhereFiltered("ccw_cow", Array(EqualTo("k", 2L)))
      ()
    })
    spark.sql("UPDATE graft.`ccw_cow` SET v = v + 1 WHERE k = 1")
    assert(BucketStore.onRowLevelScanPinned.isEmpty, "hook must have fired")
    // BOTH effects present — the rebase lost nothing
    assert(scan("ccw_cow").filter(col("k") === 1L).head.getDouble(1) === 11.0)
    assert(scan("ccw_cow").filter(col("k") === 2L).count() === 0L)

    // same bucket: UPDATE k=3 while a DELETE of k=7 (same bucket) lands
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      BucketStore.deleteWhereFiltered("ccw_cow", Array(EqualTo("k", 7L)))
      ()
    })
    val e = intercept[Throwable] {
      spark.sql("UPDATE graft.`ccw_cow` SET v = v + 1 WHERE k = 3")
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[BucketStore.ConcurrentWriteException]),
      s"expected a ConcurrentWriteException in the cause chain, got $e")
    // the failed statement left NO partial state; the concurrent
    // delete survived
    assert(scan("ccw_cow").filter(col("k") === 3L).head.getDouble(1) === 30.0)
    assert(scan("ccw_cow").filter(col("k") === 7L).count() === 0L)
    // retry re-plans against the current snapshot and lands
    spark.sql("UPDATE graft.`ccw_cow` SET v = v + 1 WHERE k = 3")
    assert(scan("ccw_cow").filter(col("k") === 3L).head.getDouble(1) === 31.0)
  }

  test("COW: a vacuumed read version is a loud conflict, not a blind commit") {
    freshTable("ccw_vac")
    val t = BucketStore.get("ccw_vac")
    val byBucket = Array.fill(t.buckets.length)(Array.empty[Row])
    val ex = intercept[BucketStore.ConcurrentWriteException] {
      BucketStore.replaceGroups("ccw_vac", byBucket, Set(0), t.layoutEpoch,
        readVersion = Some(t.version - 1000))
    }
    assert(ex.getMessage.contains("no longer retained"))
  }

  test("MoR: disjoint-bucket and same-bucket-append interleaves compose; position overlap conflicts") {
    freshTable("ccw_mor")
    BucketStore.setDmlMode("ccw_mor", BucketStore.MergeOnRead)

    // disjoint buckets: UPDATE k=1 with an interleaved delete of k=2
    // — previously ANY interleave failed; now it composes
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      BucketStore.deleteWhereFiltered("ccw_mor", Array(EqualTo("k", 2L)))
      ()
    })
    spark.sql("UPDATE graft.`ccw_mor` SET v = v + 1 WHERE k = 1")
    assert(scan("ccw_mor").filter(col("k") === 1L).head.getDouble(1) === 11.0)
    assert(scan("ccw_mor").filter(col("k") === 2L).count() === 0L)

    // same bucket, different rows: delta APPEND keeps positions stable
    // (k=3 and k=7 share a bucket) — composes
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      spark.sql("UPDATE graft.`ccw_mor` SET v = v + 5 WHERE k = 7")
      ()
    })
    spark.sql("UPDATE graft.`ccw_mor` SET v = v + 1 WHERE k = 3")
    assert(scan("ccw_mor").filter(col("k") === 3L).head.getDouble(1) === 31.0)
    assert(scan("ccw_mor").filter(col("k") === 7L).head.getDouble(1) === 75.0)

    // SAME ROW: an interleaved update of k=3 while our statement also
    // updates k=3 — a genuine write-write conflict
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      spark.sql("UPDATE graft.`ccw_mor` SET v = v + 100 WHERE k = 3")
      ()
    })
    val e = intercept[Throwable] {
      spark.sql("UPDATE graft.`ccw_mor` SET v = v + 1 WHERE k = 3")
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[BucketStore.ConcurrentWriteException]),
      s"expected ConcurrentWriteException, got $e")
    // the interleaved +100 survived; the failed +1 left nothing
    assert(scan("ccw_mor").filter(col("k") === 3L).head.getDouble(1) === 131.0)

    // an interleaved COMPACTION re-materializes positions — conflict
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      BucketStore.compact("ccw_mor")
      ()
    })
    val e2 = intercept[Throwable] {
      spark.sql("UPDATE graft.`ccw_mor` SET v = v + 1 WHERE k = 3")
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[BucketStore.ConcurrentWriteException]),
      s"a compaction under a pending delta must conflict, got $e2")
    assert(scan("ccw_mor").filter(col("k") === 3L).head.getDouble(1) === 131.0)
  }
}
