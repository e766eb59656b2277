package graft.sources.bucketed

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Cross-process vacuum safety (round 18): the time-based retention
  * floor (`vacuum(table, keep_last, min_age_ms)` — the public
  * Delta/Iceberg pattern). A stale FOREIGN reader — another process
  * holding an older snapshot's metadata in its own heap, reading
  * blocks lazily from the shared directory — must either complete
  * (its snapshot is within the floor, so its files were never
  * touched) or fail LOUDLY with the named error, never lose files
  * silently mid-scan. The foreign reader is simulated faithfully by
  * capturing the old snapshot's [[BucketStore.BucketTable]] value
  * before the vacuum: that is exactly the metadata a foreign JVM
  * holds, and its lazy block fetches are the same
  * [[FileStore.readBlock]] calls.
  */
class VacuumRetentionSpec extends SparkSuite {
  import spark.implicits._

  test("retention floor: a stale foreign reader inside the floor completes; outside fails loudly") {
    val name = "vac_floor"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 400).map(i => (i.toLong, i * 1.5)).toDF("k", "v"), "k", 4)
    val vOld = BucketStore.retained(name).last // head before the rewrite
    // a COW delete rewrites the touched buckets — the old version's
    // files become unreferenced once it leaves history
    BucketStore.deleteWhere(name, _.getLong(0) % 2 == 0)
    val head = BucketStore.get(name)
    val foreign = BucketStore.snapshot(name, vOld) // the foreign JVM's in-heap metadata
    // pick a bucket whose file the head no longer references
    val b = (0 until foreign.buckets.length).find { i =>
      val of = foreign.buckets.block(i).file
      of.exists(_.path.nonEmpty) && of != head.buckets.block(i).file
    }.getOrElse(fail("expected the COW delete to rewrite at least one bucket"))
    val oldFile = foreign.buckets.block(b).file.get

    // INSIDE the floor: every snapshot is seconds old, so a one-hour
    // floor drops nothing and deletes nothing — the foreign reader's
    // scan completes
    assert(BucketStore.vacuum(name, 1, minAgeMs = 60L * 60 * 1000) === 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(oldFile.path)),
      "files inside the retention floor must never be deleted")
    assert(FileStore.readBlock(oldFile).length === oldFile.rows,
      "a foreign reader within the floor must complete")

    // OUTSIDE the floor (no floor at all): versions beyond keep_last
    // drop and their files go — the foreign reader fails with the
    // NAMED error at its next block fetch, never a silent wrong answer
    assert(BucketStore.vacuum(name, 1, minAgeMs = 0L) > 0)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(oldFile.path)),
      "outside the floor the unreferenced file must be collected")
    val e = intercept[FileStore.VacuumedFilesException] { FileStore.readBlock(oldFile) }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    assert(e.getMessage.contains("min_age_ms"), e.getMessage)
    // the projected (cold-aggregate) read path fails with the same named error
    intercept[FileStore.VacuumedFilesException] {
      FileStore.readBlockProjected(oldFile, head.schema).toArray
    }
    // same-process readers fail at PLAN time with the standing loud error
    val p = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets")
        .option("table", name).option("versionAsOf", vOld).load().collect()
    }
    assert(p.getMessage.contains("not retained"))
    // and the surviving head still serves
    assert(spark.read.format("graft-buckets").option("table", name).load().count() === 200L)
    BucketStore.drop(name)
  }

  test("the floor ends the droppable prefix at the first young snapshot (contiguous history)") {
    val name = "vac_prefix"
    BucketStore.drop(name)
    val saved = BucketStore.clock
    try {
      // commit stamps are MONOTONIC (max(prev+1, clock)), so aging is
      // simulated FORWARD: two versions at real "now", then the clock
      // jumps two hours ahead for two YOUNG ones — under the advanced
      // clock the first two are two hours old
      BucketStore.load(spark, name,
        (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
      val tick = new java.util.concurrent.atomic.AtomicLong(
        (System.currentTimeMillis() + 2L * 60 * 60 * 1000) * 1000L)
      BucketStore.clock = () => tick.addAndGet(1000L)
      BucketStore.deleteWhere(name, _.getLong(0) >= 90)
      BucketStore.deleteWhere(name, _.getLong(0) >= 80)
      val hist = BucketStore.retained(name)
      assert(hist.length === 4)
      // a one-hour floor may drop only the two-hour-old prefix, even
      // with keep_last = 1 — the young suffix is protected
      val dropped = BucketStore.vacuum(name, 1, minAgeMs = 60L * 60 * 1000)
      assert(dropped === 2, s"only the old prefix may drop, got $dropped")
      assert(BucketStore.retained(name) === hist.drop(2))
      // a zero floor then trims to keep_last as before
      assert(BucketStore.vacuum(name, 1, minAgeMs = 0L) === 1)
      assert(BucketStore.retained(name).length === 1)
    } finally {
      BucketStore.clock = saved
      BucketStore.drop(name)
    }
  }

  test("file-level floor is independent: young files survive gc even when unreferenced") {
    val name = "vac_files"
    BucketStore.drop(name)
    val saved = BucketStore.clock
    try {
      // age the COMMIT STAMPS past the floor (forward-jumped clock at
      // vacuum time) while the files on disk stay young (just
      // written): the version drops from history, but the mtime floor
      // keeps its files — conservative on both axes, the next
      // floor-free vacuum collects them
      BucketStore.load(spark, name,
        (0 until 60).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
      val vOld = BucketStore.currentVersion(name)
      BucketStore.deleteWhere(name, _.getLong(0) < 10)
      val foreign = BucketStore.snapshot(name, vOld)
      val oldFiles = (0 until foreign.buckets.length)
        .flatMap(i => foreign.buckets.block(i).file).filter(_.path.nonEmpty)
      assert(oldFiles.nonEmpty)
      // vacuum under a clock three hours ahead: every commit is "old"
      // by stamp, but every file is young by real mtime
      BucketStore.clock =
        () => (System.currentTimeMillis() + 3L * 60 * 60 * 1000) * 1000L
      val dropped = BucketStore.vacuum(name, 1, minAgeMs = 60L * 60 * 1000)
      assert(dropped > 0, "hour-floor must drop the stamp-aged commits")
      oldFiles.foreach { f =>
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)),
          s"just-written file ${f.path} is younger than the floor and must survive gc")
      }
    } finally {
      BucketStore.clock = saved
      BucketStore.drop(name)
    }
  }

  test("a TABLE-LEVEL floor (TBLPROPERTIES vacuum.min_age_ms) guards automatic retention GC too") {
    val name = "vac_prop"
    BucketStore.drop(name)
    spark.sql(s"CREATE TABLE graft.`$name` (k BIGINT, v DOUBLE) " +
      s"PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('vacuum.min_age_ms'='3600000')")
    assert(BucketStore.vacuumFloorOf(name) === 3600000L)
    (0 until 40).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
      .writeTo(s"graft.`$name`").append()
    val vOld = BucketStore.currentVersion(name)
    spark.sql(s"DELETE FROM graft.`$name` WHERE k < 5")
    val foreign = BucketStore.snapshot(name, vOld)
    val oldFiles = (0 until foreign.buckets.length)
      .flatMap(i => foreign.buckets.block(i).file).filter(_.path.nonEmpty)
    assert(oldFiles.nonEmpty)
    // drive the table past the MVCC window: the AUTOMATIC publish-time
    // retention GC fires, but the table's floor keeps every young file
    (1 to BucketStore.RetainedVersions + 2).foreach { i =>
      spark.sql(s"DELETE FROM graft.`$name` WHERE k = ${1000 + i}") // no-op matches, still publishes
    }
    assert(BucketStore.retained(name).length === BucketStore.RetainedVersions)
    oldFiles.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)),
        s"automatic retention GC must honor the table floor; lost ${f.path}")
    }
    // a floor-less vacuum call uses the registered floor: drops nothing young
    assert(BucketStore.vacuum(name, 1) === 0)
    // an EXPLICIT zero overrides this table's own floor and collects
    val r = spark.sql(s"CALL graft.vacuum('$name', 1, 0)").head()
    assert(r.getInt(0) > 0 && r.getInt(1) === 1)
    assert(oldFiles.exists(f =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(f.path))),
      "the explicit zero-floor vacuum must collect the unreferenced files")
    BucketStore.drop(name)
  }

  test("a shared-directory sweep honors a COHABITING lineage's floor (WAP branch)") {
    // the base table declares a floor; a vacuum on its BRANCH (same
    // directory) must not delete files younger than the base's floor
    // even with an explicit zero — only a table's OWN floor is
    // overridable per call
    val name = "vac_share"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    BucketStore.setVacuumFloor(name, 60L * 60 * 1000)
    spark.sql(s"CALL graft.branch('$name', 'audit')")
    val bname = BucketStore.branchName(name, "audit")
    // the BRANCH rewrites a bucket twice: its old version's files are
    // branch-only (the base never references them)
    spark.sql(s"DELETE FROM graft.`$bname` WHERE k < 10")
    val vMid = BucketStore.currentVersion(bname)
    spark.sql(s"DELETE FROM graft.`$bname` WHERE k < 20")
    val midFiles = (0 until BucketStore.snapshot(bname, vMid).buckets.length)
      .flatMap(i => BucketStore.snapshot(bname, vMid).buckets.block(i).file)
      .filter(_.path.nonEmpty)
    assert(midFiles.nonEmpty)
    // explicit zero on the BRANCH: its own floor (none) is overridden,
    // but the base's one-hour floor still covers the shared directory
    BucketStore.vacuum(bname, 1, minAgeMs = 0L): Unit
    midFiles.foreach { f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)),
        s"a cohabiting lineage's floor must protect ${f.path}")
    }
    BucketStore.clearVacuumFloor(name)
    BucketStore.drop(name)
  }

  test("a foreign commit landing concurrently with an unfloored vacuum is never swept") {
    // the cross-process race gc must survive structurally (not just
    // via the mtime floor): a foreign writer's commit lands AFTER this
    // process computed its GC roots — simulated exactly like q262,
    // with a real engine-produced manifest withheld across a rewind
    // and landed back while the local heap is stale
    import java.nio.file.Files
    val name = "vac_race"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 200).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    val v0 = BucketStore.currentVersion(name)
    spark.sql(s"DELETE FROM graft.`$name` WHERE k < 20") // v1: rewrites buckets, new files
    val v1 = BucketStore.currentVersion(name)
    val tdir0 = BucketStore.tableDir(name)
    val m1 = tdir0.resolve(s"manifest-v$v1.json")
    val bytes1 = Files.readAllBytes(m1)
    Files.delete(m1)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    assert(BucketStore.currentVersion(name) === v0) // heap is stale
    Files.write(m1, bytes1): Unit // the foreign commit lands
    // the stale process vacuums with NO floor: v1 is unknown to its
    // roots, but it is NEWER than everything retained — protected
    BucketStore.vacuum(name, 1, minAgeMs = 0L): Unit
    assert(Files.exists(m1),
      "an unfloored vacuum must never sweep a foreign commit newer than its head")
    // ...and the commit is fully intact: absorbing it serves v1 exactly
    BucketStore.refreshFromDisk(name): Unit
    assert(BucketStore.currentVersion(name) === v1)
    assert(spark.read.format("graft-buckets").option("table", name).load().count() === 180L)
    BucketStore.drop(name)
  }

  test("CALL graft.retention sets/clears the floor for existing tables") {
    val name = "vac_retproc"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 30).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    BucketStore.deleteWhere(name, _.getLong(0) < 3)
    val r = spark.sql(s"CALL graft.retention('$name', ${60L * 60 * 1000})").head()
    assert(r.getLong(0) === 60L * 60 * 1000)
    // the floor-less vacuum now uses the registered floor: young history survives
    assert(BucketStore.vacuum(name, 1) === 0)
    // negative clears; the next floor-less vacuum trims count-based
    assert(spark.sql(s"CALL graft.retention('$name', -1)").head().getLong(0) === 0L)
    assert(BucketStore.vacuum(name, 1) > 0)
    intercept[Exception] { spark.sql("CALL graft.retention('no_such_table', 5)").collect() }
    BucketStore.drop(name)
  }

  test("CALL graft.vacuum accepts the optional min_age_ms argument") {
    val name = "vac_call"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 50).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    BucketStore.deleteWhere(name, _.getLong(0) < 5)
    val n0 = BucketStore.retained(name).length
    // floored call: everything is young, nothing drops
    val r1 = spark.sql(s"CALL graft.vacuum('$name', 1, ${60L * 60 * 1000})").collect()
    assert(r1.head.getInt(0) === 0 && r1.head.getInt(1) === n0)
    // two-arg call keeps working (floor defaults to 0)
    val r2 = spark.sql(s"CALL graft.vacuum('$name', 1)").collect()
    assert(r2.head.getInt(0) === n0 - 1 && r2.head.getInt(1) === 1)
    BucketStore.drop(name)
  }

  test("the floor is DURABLE table metadata: a restarted process restores it (round 19)") {
    val name = "vac_durable"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    BucketStore.setVacuumFloor(name, 60L * 60 * 1000) // re-publishes the current manifest
    BucketStore.deleteWhere(name, _.getLong(0) < 10)
    // JVM restart: the fresh process must NOT run floor-0 GC against
    // readers the operator declared protected — the floor comes back
    // from the manifest, not from anyone's heap
    val dir = BucketStore.unload(name).get
    assert(BucketStore.vacuumFloorOf(name) === 0L) // heap really forgot
    BucketStore.openFromDisk(name, dir)
    assert(BucketStore.vacuumFloorOf(name) === 60L * 60 * 1000,
      "openFromDisk must restore the declared retention floor")
    assert(BucketStore.vacuum(name, 1) === 0,
      "the restarted process's floor-less vacuum must honor the restored floor")
    // clearing is durable too: the next restart trims count-based again
    BucketStore.clearVacuumFloor(name)
    val dir2 = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, dir2)
    assert(BucketStore.vacuumFloorOf(name) === 0L)
    assert(BucketStore.vacuum(name, 1) > 0)
    BucketStore.drop(name)
  }

  test("absorbing a foreign commit adopts its floor — and never weakens a stricter local one") {
    import java.nio.file.Files
    val name = "vac_absorb"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 40).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    BucketStore.deleteWhere(name, _.getLong(0) < 4) // v1
    BucketStore.setVacuumFloor(name, 60L * 60 * 1000) // persisted into v1's manifest
    val v1 = BucketStore.currentVersion(name)
    val tdir0 = BucketStore.tableDir(name)
    val m1 = tdir0.resolve(s"manifest-v$v1.json")
    val bytes1 = Files.readAllBytes(m1)
    Files.delete(m1)
    // stale process: head at v0, which carries no floor
    val dir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, dir)
    assert(BucketStore.vacuumFloorOf(name) === 0L)
    Files.write(m1, bytes1): Unit // the foreign floor-carrying commit lands
    assert(BucketStore.refreshFromDisk(name) === 1)
    assert(BucketStore.vacuumFloorOf(name) === 60L * 60 * 1000,
      "absorb must adopt the foreign commit's durable floor")
    // a stricter LIVE floor survives absorbing an older (weaker) commit
    BucketStore.setVacuumFloor(name, 2L * 60 * 60 * 1000)
    BucketStore.refreshFromDisk(name): Unit // no-op absorb
    assert(BucketStore.vacuumFloorOf(name) === 2L * 60 * 60 * 1000)
    BucketStore.drop(name)
  }

  test("a near-MaxValue floor saturates — the retain-forever sentinel never inverts") {
    val name = "vac_forever"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 20).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), "k", 2)
    BucketStore.deleteWhere(name, _.getLong(0) < 2)
    val n0 = BucketStore.retained(name).length
    // pre-fix, minAgeMs * 1000 wrapped and the cutoff landed ≈ now,
    // dropping everything beyond keep_last — maximum protection
    // becoming none. Saturated, nothing may drop.
    assert(BucketStore.vacuum(name, 1, minAgeMs = Long.MaxValue) === 0)
    assert(BucketStore.retained(name).length === n0)
    BucketStore.drop(name)
  }
}
