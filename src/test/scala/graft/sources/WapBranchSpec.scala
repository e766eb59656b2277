package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.{BucketStore, FileStore}

/** WAP branches (write-audit-publish, gated end-to-end by q250):
  * `CALL graft.branch` forks the head as `base#branch` — a zero-copy
  * manifest write sharing the base's directory — every existing
  * read/write/DML path addresses the branch by name, `publish_branch`
  * fast-forwards main atomically (refusing if main moved since the
  * fork), and `drop_branch` abandons the batch with its files GC'd.
  */
class WapBranchSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def mk(name: String, n: Int = 800): Unit = {
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to n).map(i => (i.toLong, s"d-$i", i % 5)).toDF("k", "tag", "grp"), "k", 8)
  }

  test("fork is zero-copy: every bucket shared by identity, one manifest write, no block load") {
    mk("wap_fork")
    BucketStore.evictTable("wap_fork")
    val before = FileStore.filesWritten.get()
    spark.sql("CALL graft.branch('wap_fork', 's')")
    assert(FileStore.filesWritten.get() === before, "a fork must write NO block files")
    val base = BucketStore.get("wap_fork")
    val br = BucketStore.get("wap_fork#s")
    base.buckets.indices.foreach(b =>
      assert(br.buckets.sharesWith(base.buckets, b), s"bucket $b not shared"))
    assert(br.buckets.loadedCount === 0, "a fork must not load evicted blocks")
    assert(BucketStore.branchesOf("wap_fork") === Seq("s"))
  }

  test("two-way isolation: branch writes invisible on main, main writes invisible on branch") {
    mk("wap_iso")
    spark.sql("CALL graft.branch('wap_iso', 's')")
    // branch-side: append + a quality DELETE through ordinary SQL
    Seq((9001L, "new-1", 1), (9002L, "junk", 2)).toDF("k", "tag", "grp")
      .writeTo("graft.`wap_iso#s`").append()
    spark.sql("DELETE FROM graft.`wap_iso#s` WHERE tag = 'junk'")
    // main-side: untouched
    assert(scan("wap_iso").count() === 800L)
    assert(scan("wap_iso").filter(col("k") >= 9000L).count() === 0L)
    // main-side write (on another table row set) is invisible on branch
    spark.sql("DELETE FROM graft.`wap_iso` WHERE k = 5")
    assert(scan("wap_iso#s").filter(col("k") === 5L).count() === 1L,
      "the branch reads its fork snapshot, not main's later commits")
    BucketStore.dropBranch("wap_iso", "s")
  }

  test("publish fast-forwards main to the audited head and retires the branch") {
    mk("wap_pub")
    spark.sql("CALL graft.branch('wap_pub', 's')")
    Seq((9001L, "new-1", 1)).toDF("k", "tag", "grp").writeTo("graft.`wap_pub#s`").append()
    spark.sql("DELETE FROM graft.`wap_pub#s` WHERE grp = 4")
    spark.sql("CALL graft.publish_branch('wap_pub', 's')")
    assert(BucketStore.branchesOf("wap_pub").isEmpty)
    assert(scan("wap_pub").filter(col("k") === 9001L).count() === 1L)
    assert(scan("wap_pub").filter(col("grp") === 4).count() === 0L)
    assert(scan("wap_pub").count() === 800L - 160L + 1L)
  }

  test("publish refuses when main moved since the fork; drop_branch abandons cleanly") {
    mk("wap_race")
    spark.sql("CALL graft.branch('wap_race', 's')")
    Seq((9001L, "new-1", 1)).toDF("k", "tag", "grp").writeTo("graft.`wap_race#s`").append()
    spark.sql("DELETE FROM graft.`wap_race` WHERE k = 1") // main moves
    val e = intercept[Throwable] { spark.sql("CALL graft.publish_branch('wap_race', 's')") }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[BucketStore.ConcurrentWriteException]), s"got $e")
    spark.sql("CALL graft.drop_branch('wap_race', 's')")
    assert(BucketStore.branchesOf("wap_race").isEmpty)
    // main kept exactly its own commit; the batch never landed
    assert(scan("wap_race").count() === 799L)
    assert(scan("wap_race").filter(col("k") === 9001L).count() === 0L)
  }

  test("branch GC never frees files main references; drop_branch frees branch-only files") {
    mk("wap_gc")
    val dir = BucketStore.tableDir("wap_gc")
    spark.sql("CALL graft.branch('wap_gc', 's')")
    // branch rewrites one bucket (new file), main keeps serving its own
    spark.sql("UPDATE graft.`wap_gc#s` SET grp = 99 WHERE k = 7")
    BucketStore.dropBranch("wap_gc", "s")
    // after the branch is gone, main must still read every row — from
    // disk (evict first so any over-eager GC would surface as a crash)
    BucketStore.evictTable("wap_gc")
    assert(scan("wap_gc").count() === 800L)
    // and no branch manifests linger
    val leftover = java.nio.file.Files.list(dir).iterator()
    var branchManifests = 0
    while (leftover.hasNext) {
      val p = leftover.next().getFileName.toString
      if (p.startsWith("manifest-") &&
        new String(java.nio.file.Files.readAllBytes(dir.resolve(p))).contains("wap_gc#s"))
        branchManifests += 1
    }
    assert(branchManifests === 0, "drop_branch must GC the branch's manifests")
  }

  test("rebase: disjoint main commits replay for free; overlapping buckets stay a conflict") {
    mk("wap_rbs")
    spark.sql("CALL graft.branch('wap_rbs', 's')")
    // branch edits k=1 (one bucket); main deletes k=2 (a different one)
    spark.sql("UPDATE graft.`wap_rbs#s` SET grp = 42 WHERE k = 1")
    spark.sql("DELETE FROM graft.`wap_rbs` WHERE k = 2")
    val mainHead = BucketStore.get("wap_rbs")
    val bhead = BucketStore.get("wap_rbs#s")
    spark.sql("CALL graft.rebase_branch('wap_rbs', 's')")
    val rebased = BucketStore.get("wap_rbs#s")
    // identity: every bucket of the rebased head is SHARED with one of
    // its two parents — main's current blocks or the branch's edits
    rebased.buckets.indices.foreach(b => assert(
      rebased.buckets.sharesWith(mainHead.buckets, b) ||
        rebased.buckets.sharesWith(bhead.buckets, b),
      s"rebased bucket $b is a copy, not a swap"))
    // content: both sides' effects visible on the branch
    assert(scan("wap_rbs#s").filter(col("k") === 1L).head.getInt(2) === 42)
    assert(scan("wap_rbs#s").filter(col("k") === 2L).count() === 0L)
    // and the publish now fast-forwards
    spark.sql("CALL graft.publish_branch('wap_rbs', 's')")
    assert(scan("wap_rbs").filter(col("k") === 1L).head.getInt(2) === 42)
    assert(scan("wap_rbs").count() === 799L)

    // overlap: both sides touch the SAME bucket → loud conflict
    spark.sql("CALL graft.branch('wap_rbs', 't')")
    spark.sql("UPDATE graft.`wap_rbs#t` SET grp = 43 WHERE k = 3")
    spark.sql("DELETE FROM graft.`wap_rbs` WHERE k = 7") // same bucket as k=3
    val e = intercept[Throwable] { spark.sql("CALL graft.rebase_branch('wap_rbs', 't')") }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[BucketStore.ConcurrentWriteException]), s"got $e")
    spark.sql("CALL graft.drop_branch('wap_rbs', 't')")
  }

  test("q252 gate self-audit holds at sf0.001 (rebase then publish end-to-end)") {
    val df = graft.sources.bucketed.BucketedQueries.branchRebaseQuery(spark, sf)
    assert(df.count() > 0)
  }

  test("q250 gate self-audit holds at sf0.001 (WAP curation end-to-end)") {
    val df = graft.sources.bucketed.BucketedQueries.wapCurationQuery(spark, sf)
    assert(df.count() > 0)
    // spot-check the audit: no published doc under the quality floor
    val name = s"docs_wap@$sf"
    val under = spark.table(s"graft.`$name`")
      .filter(col("doc_id") % 3 === 0 && col("n_chars") < 200).count()
    assert(under === 0L, "quality-failed batch rows leaked past the audit")
  }

  test("branch-staged schema migration: ALTER on the branch, main jumps schema only at publish") {
    mk("wap_alter")
    spark.sql("CALL graft.branch('wap_alter', 's')")
    spark.sql("ALTER TABLE graft.`wap_alter#s` ADD COLUMN score DOUBLE")
    // backfill through the ordinary write path — on the branch only
    spark.sql("UPDATE graft.`wap_alter#s` SET score = 1.5 WHERE k = 1")
    assert(scan("wap_alter#s").schema.fieldNames.contains("score"))
    assert(!scan("wap_alter").schema.fieldNames.contains("score"),
      "main must keep its schema until publish")
    spark.sql("CALL graft.publish_branch('wap_alter', 's')")
    val main = scan("wap_alter")
    assert(main.schema.fieldNames.contains("score"), "publish carries the schema atomically")
    assert(main.filter(col("k") === 1L).head.getDouble(main.schema.fieldIndex("score")) === 1.5)
    assert(main.filter(col("score").isNull).count() === 799L,
      "pre-ALTER rows read NULL-padded, zero rewrite")
  }

  test("an open branch survives a restart (unload + openFromDisk both lineages)") {
    mk("wap_restart")
    spark.sql("CALL graft.branch('wap_restart', 's')")
    Seq((9001L, "new-1", 1)).toDF("k", "tag", "grp")
      .writeTo("graft.`wap_restart#s`").append()
    val dirB = BucketStore.unload("wap_restart#s").get
    val dirM = BucketStore.unload("wap_restart").get
    assert(dirB === dirM, "branch and base share one directory")
    BucketStore.openFromDisk("wap_restart", dirM)
    BucketStore.openFromDisk("wap_restart#s", dirB)
    assert(scan("wap_restart").count() === 800L)
    assert(scan("wap_restart#s").count() === 801L)
    // the fork point survives too (manifest-carried reserved tag):
    // publish after the restart still validates and fast-forwards
    spark.sql("CALL graft.publish_branch('wap_restart', 's')")
    assert(scan("wap_restart").count() === 801L)
    assert(BucketStore.branchesOf("wap_restart").isEmpty)
  }
}
