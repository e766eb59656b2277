package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.{BucketStore, FileStore}

/** The file substrate under the bucket store
  * ([[graft.sources.bucketed.FileStore]]): a snapshot is a JSON
  * manifest over immutable per-bucket parquet files, copy-on-write at
  * FILE granularity (an untouched bucket re-references the previous
  * version's file — the array-identity pins of RebucketHrwSpec and
  * BucketSkipSpec, re-expressed on storage), tables reopen in a fresh
  * process from the directory alone, blocks evict and lazily reload
  * per bucket, and retention trims garbage-collect unreferenced files.
  */
class FileStoreSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def mk(name: String, n: Int = 64, buckets: Int = 8): Unit = {
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to n).map(i => (i.toLong, s"tag-$i", i * 1.5)).toDF("k", "tag", "v"),
      "k", buckets)
  }

  test("a publish writes files for exactly the buckets it changed — COW at file granularity") {
    mk("fs_cow")
    val dir = BucketStore.tableDir("fs_cow")
    val m1 = FileStore.readManifests(dir).last
    val before = FileStore.filesWritten.get()
    // a single-row DELETE rewrites ONE bucket (copy-on-write mode)
    BucketStore.deleteWhere("fs_cow", _.getLong(0) == 17L)
    assert(FileStore.filesWritten.get() - before === 1L,
      "one changed bucket must cost exactly one new block file")
    val m2 = FileStore.readManifests(dir).last
    assert(m2.version > m1.version)
    val changed = m1.buckets.indices.count(b => m1.buckets(b).path != m2.buckets(b).path)
    assert(changed === 1, s"exactly one manifest entry should change, got $changed")
    // untouched buckets re-reference the previous version's files BY PATH
    m1.buckets.indices.foreach { b =>
      if (m1.buckets(b).path == m2.buckets(b).path && m1.buckets(b).rows > 0)
        assert(Files.exists(java.nio.file.Paths.get(m2.buckets(b).path)))
    }
  }

  test("unload + openFromDisk: a table survives a process restart from its directory alone") {
    spark.sql("DROP TABLE IF EXISTS graft.fs_boot")
    spark.sql("""CREATE TABLE graft.fs_boot (k BIGINT, tag STRING, v DOUBLE)
      PARTITIONED BY (bucket(4, k))
      TBLPROPERTIES ('write.dml.mode'='merge-on-read', 'check'='v >= 0.0')""")
    spark.sql("INSERT INTO graft.fs_boot SELECT id, concat('t-', id), id * 2.0 " +
      "FROM range(1, 41)")
    val vFull = BucketStore.currentVersion("fs_boot")
    BucketStore.setTag("fs_boot", "golden")
    spark.sql("DELETE FROM graft.fs_boot WHERE k % 10 = 0")  // MOR deltas in history
    spark.sql("UPDATE graft.fs_boot SET v = 99.0 WHERE k = 7")
    BucketStore.registerStatColumns("fs_boot", Seq("v"))
    spark.sql("INSERT INTO graft.fs_boot VALUES (100, 'late', 1.0)")
    val want = spark.table("graft.fs_boot").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val wantOld = spark.sql(s"SELECT * FROM graft.fs_boot VERSION AS OF $vFull").count()
    val wantStats = BucketStore.statColumnsOf("fs_boot")

    // "restart": heap state gone, only the directory remains
    val dir = BucketStore.unload("fs_boot").get
    assert(!BucketStore.exists("fs_boot"))
    intercept[Exception] { spark.table("graft.fs_boot").collect() }

    BucketStore.openFromDisk("fs_boot", dir)
    // every base block starts as a file REFERENCE — nothing loaded yet
    assert(BucketStore.get("fs_boot").buckets.loadedCount === 0,
      "openFromDisk must not materialize base blocks")
    val got = spark.table("graft.fs_boot").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === want)
    // retained history, tags, and table config crossed the restart
    assert(spark.sql(s"SELECT * FROM graft.fs_boot VERSION AS OF $vFull").count() === wantOld)
    assert(BucketStore.tagsOf("fs_boot").contains("golden"))
    assert(BucketStore.dmlModeOf("fs_boot") === "merge-on-read")
    assert(BucketStore.checkOf("fs_boot").exists(_.contains("v >= 0")))
    assert(BucketStore.statColumnsOf("fs_boot") === wantStats)
    assert(wantStats.contains("v"))
    // the CHECK constraint is live, not just recorded
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO graft.fs_boot VALUES (200, 'bad', -1.0)")
    }
    assert(ex.getMessage.toLowerCase.contains("check"))
    // DML keeps working on the reopened table (a fresh publish + manifest)
    spark.sql("DELETE FROM graft.fs_boot WHERE k = 100")
    assert(spark.table("graft.fs_boot").count() === want.size - 1L)
  }

  test("evict + lazy reload: answers unchanged, a pruned scan loads only the buckets it opens") {
    mk("fs_evict", n = 4000, buckets = 8)
    val full = scan("fs_evict").agg(sum("v")).head().getDouble(0)
    val evicted = BucketStore.evictTable("fs_evict")
    assert(evicted >= 8, s"expected all 8 base blocks evicted, got $evicted")
    assert(BucketStore.get("fs_evict").buckets.loadedCount === 0)
    // a key point-lookup prunes to one bucket — and must LOAD only it
    val before = FileStore.filesRead.get()
    val row = scan("fs_evict").filter(col("k") === 1234L).collect()
    assert(row.map(_.getString(1)).toSeq === Seq("tag-1234"))
    assert(FileStore.filesRead.get() - before <= 2L,
      "a bucket-pruned lookup must not fault in the whole table")
    assert(BucketStore.get("fs_evict").buckets.loadedCount <= 2)
    // the full scan reloads the rest and agrees with the pre-evict answer
    assert(scan("fs_evict").agg(sum("v")).head().getDouble(0) === full)
    // a reloaded block keeps ONE array identity (identity caches stay coherent)
    val t = BucketStore.get("fs_evict")
    assert(t.buckets(0) eq t.buckets(0))
  }

  test("retention trim garbage-collects files no retained manifest references") {
    mk("fs_gc", n = 16, buckets = 2)
    val dir = BucketStore.tableDir("fs_gc")
    // roll well past the MVCC window; every reload rewrites every bucket
    (1 to BucketStore.RetainedVersions + 4).foreach { i =>
      BucketStore.load(spark, "fs_gc",
        (1 to 16).map(j => (j.toLong, s"t-$i-$j", j * 1.0)).toDF("k", "tag", "v"), "k", 2)
    }
    val retained = FileStore.readManifests(dir).map(_.version).toSet
    assert(retained.size <= BucketStore.RetainedVersions)
    // every file on disk is referenced by some retained manifest
    val referenced = FileStore.readManifests(dir).flatMap(m =>
      m.buckets.map(_.path) ++ m.mor.valuesIterator.map(_._2.path)).filter(_.nonEmpty).toSet
    val onDisk = Files.list(dir).iterator()
    var orphans = List.empty[String]
    onDisk.forEachRemaining { p =>
      val s = p.toString
      if (s.endsWith(".parquet") && !referenced.contains(s)) orphans ::= s
    }
    assert(orphans.isEmpty, s"unreferenced block files survived GC: $orphans")
    // the survivors still serve every retained version
    assert(scan("fs_gc").count() === 16L)
  }

  test("stats ride the manifest: a reopened table prunes with zero block reads, zero stat passes") {
    import graft.sources.bucketed.BucketSkip
    mk("fs_stats", n = 4000, buckets = 8)
    BucketStore.registerStatColumns("fs_stats", Seq("v"))
    // republish so the CURRENT manifest carries the v-stats
    BucketStore.deleteWhere("fs_stats", _.getLong(0) == 1L)
    val dir = BucketStore.unload("fs_stats").get
    BucketStore.openFromDisk("fs_stats", dir)
    assert(BucketStore.get("fs_stats").buckets.loadedCount === 0)
    val (reads0, builds0) = (FileStore.filesRead.get(), BucketSkip.buildCount.get())
    // v ranges over [3.0, 6000.0]; an impossible range prunes EVERY bucket
    val none = scan("fs_stats").filter(col("v") > 1e9)
    assert(none.rdd.getNumPartitions === 0 || none.count() === 0L)
    assert(none.count() === 0L)
    assert(FileStore.filesRead.get() === reads0,
      "pruning a reopened table must read zero blocks — stats come from the manifest")
    assert(BucketSkip.buildCount.get() === builds0,
      "pruning a reopened table must run zero stat passes — stats come from the manifest")
    assert(BucketStore.get("fs_stats").buckets.loadedCount === 0,
      "an all-pruned scan must leave every block evicted")
    // and a real range query over the same stats is still exact
    assert(scan("fs_stats").filter(col("v") <= 15.0).count() ===
      (1 to 4000).count(i => i != 1 && i * 1.5 <= 15.0).toLong)
  }

  test("explicit vacuum garbage-collects the dropped versions' manifests and files (round 16)") {
    mk("fs_vac", n = 16, buckets = 2)
    (1 to 3).foreach { i =>
      BucketStore.load(spark, "fs_vac",
        (1 to 16).map(j => (j.toLong, s"r$i-$j", j * 1.0)).toDF("k", "tag", "v"), "k", 2)
    }
    val dir = BucketStore.tableDir("fs_vac")
    val heapBefore = BucketStore.retainedVersionCount("fs_vac")
    assert(FileStore.readManifests(dir).length >= 4)
    assert(BucketStore.vacuum("fs_vac", 1) === heapBefore - 1)
    assert(BucketStore.retainedVersionCount("fs_vac") === 1)
    val ms = FileStore.readManifests(dir)
    assert(ms.length === 1, "vacuum(1) must leave exactly the head manifest on disk")
    // no orphan block files linger
    val referenced = ms.flatMap(m => m.buckets.map(_.path)).filter(_.nonEmpty).toSet
    Files.list(dir).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet"))
        assert(referenced.contains(p.toString), s"orphan survived vacuum GC: $p")
    }
    // the head still serves, including after a full evict (files intact)
    BucketStore.evictTable("fs_vac")
    assert(scan("fs_vac").count() === 16L)
  }

  test("DROP TABLE removes the directory; re-CREATE starts a fresh manifest line") {
    mk("fs_drop", n = 8, buckets = 2)
    val dir = BucketStore.tableDir("fs_drop")
    assert(Files.isDirectory(dir))
    BucketStore.drop("fs_drop")
    assert(!Files.exists(dir), "drop must delete the table directory")
    mk("fs_drop", n = 4, buckets = 2)
    assert(scan("fs_drop").count() === 4L)
    assert(FileStore.readManifests(BucketStore.tableDir("fs_drop")).nonEmpty)
  }
}
