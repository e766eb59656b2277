package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.BucketStore

/** Snapshot rollback ([[graft.sources.bucketed.BucketStore.rollback]],
  * gated end-to-end by q251): reinstate a retained version as the new
  * head in one zero-copy publish. History stays append-only (the bad
  * versions remain retained and CDC-diffable), the rollback's own CDC
  * delta is the INVERSE of what it undoes, and rolling back across a
  * layout change bumps the layout epoch so in-flight writes planned
  * against the abandoned head fail loudly.
  */
class RollbackSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def mk(name: String, n: Int = 600): Long = {
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to n).map(i => (i.toLong, s"d-$i", i % 5)).toDF("k", "tag", "grp"), "k", 8)
    BucketStore.currentVersion(name)
  }

  test("rollback is zero-copy and exact; the bad versions stay retained") {
    val good = mk("rb_basic")
    spark.sql("DELETE FROM graft.`rb_basic` WHERE grp = 2")
    spark.sql("UPDATE graft.`rb_basic` SET tag = 'oops' WHERE k = 1")
    val badHead = BucketStore.currentVersion("rb_basic")
    spark.sql(s"CALL graft.rollback('rb_basic', $good)")
    val restored = BucketStore.get("rb_basic")
    val target = BucketStore.snapshot("rb_basic", good)
    target.buckets.indices.foreach(b =>
      assert(restored.buckets.sharesWith(target.buckets, b), s"bucket $b not shared"))
    assert(scan("rb_basic").count() === 600L)
    assert(scan("rb_basic").filter(col("tag") === "oops").count() === 0L)
    // append-only history: the bad head is still readable (audit trail)
    assert(spark.read.format("graft-buckets").option("table", "rb_basic")
      .option("versionasof", badHead.toString).load().count() === 480L)
  }

  test("the rollback's CDC delta is the inverse of what it undoes") {
    val good = mk("rb_cdc", n = 200)
    spark.sql("DELETE FROM graft.`rb_cdc` WHERE k = 5")
    spark.sql(s"CALL graft.rollback('rb_cdc', $good)")
    val vRb = BucketStore.currentVersion("rb_cdc")
    val feed = spark.readStream.format("graft-buckets")
      .option("table", "rb_cdc").option("mode", "cdc").load()
    val rows = graft.streaming.StreamOps.runToMemory(feed, "append").collect()
    val rb = rows.filter(_.getAs[Long]("_commit_version") == vRb)
    assert(rb.map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"))).toSeq ===
      Seq((5L, "insert")), "un-deleting k=5 must read as its re-insert")
  }

  test("rollback across a layout change reinstates the old layout under a fresh epoch") {
    val good = mk("rb_layout")
    val epochBefore = BucketStore.get("rb_layout").layoutEpoch
    spark.sql("CALL graft.rebucket('rb_layout', 4)")
    spark.sql("DELETE FROM graft.`rb_layout` WHERE grp = 1")
    spark.sql(s"CALL graft.rollback('rb_layout', $good)")
    val t = BucketStore.get("rb_layout")
    assert(t.buckets.length === 8, "the old 8-bucket layout is reinstated")
    assert(t.layoutEpoch > epochBefore, "a layout-crossing rollback must bump the epoch")
    assert(scan("rb_layout").count() === 600L)
    // ordinary DML continues against the restored head
    spark.sql("UPDATE graft.`rb_layout` SET grp = 7 WHERE k = 3")
    assert(scan("rb_layout").filter(col("grp") === 7).count() === 1L)
  }

  test("rolling back to a vacuumed or current version is a loud error") {
    val good = mk("rb_bad")
    val e = intercept[Throwable] { spark.sql("CALL graft.rollback('rb_bad', 999999)") }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("not retained")), s"got $e")
    val e2 = intercept[Throwable] { spark.sql(s"CALL graft.rollback('rb_bad', $good)") }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("already the current")),
      s"got $e2")
  }

  test("q251 gate self-audit holds at sf0.001") {
    val df = graft.sources.bucketed.BucketedQueries.rollbackQuery(spark, sf)
    assert(df.count() > 0)
  }

  test("q253 gate self-audit holds at sf0.001 (recipe identical under live ingest)") {
    val df = graft.sources.bucketed.BucketedQueries.trainingRecipeQuery(spark, sf)
    val packs = df.groupBy(col("source"), col("pack_id")).count().count()
    assert(packs > 0, "the recipe must pack at least one window")
  }
}
