package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Merge-on-read row-level DML ([[BucketedDeltaOps]] /
  * [[BucketStore.applyDelta]]): point DELETE/UPDATE commit deletion
  * vectors + delta rows with base arrays SHARED by identity —
  * O(changed rows) publish — and every read surface (scan, aggregate,
  * time travel, CDC, stats) serves the folded view. Compaction folds
  * the state back; positions are snapshot-pinned (loud on concurrent
  * commits); copy-on-write stays the untouched default.
  */
class BucketedMorSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def mkTable(name: String, rows: Int = 1000, buckets: Int = 8): Unit = {
    BucketStore.drop(name)
    val df = (1 to rows).map(i => (i.toLong, s"v$i", i * 2.0)).toDF("k", "v", "d")
    BucketStore.load(spark, name, df, "k", buckets)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
  }

  test("MOR DELETE: one deletion-vector bit, every base array shared, folded reads exact") {
    mkTable("mor_del")
    val before = BucketStore.get("mor_del")
    spark.sql("DELETE FROM graft.`mor_del` WHERE k = 77")
    val after = BucketStore.get("mor_del")
    // O(changed rows): the commit shared EVERY base array by identity
    before.buckets.indices.foreach(b =>
      assert(after.buckets(b) eq before.buckets(b),
        s"bucket $b base array was rewritten by a 1-row MOR delete"))
    assert(after.mor.size === 1)
    assert(after.mor.values.head.deleted.cardinality() === 1)
    assert(after.mor.values.head.delta.isEmpty)
    // folded reads: the row is gone everywhere
    assert(scan("mor_del").count() === 999L)
    assert(scan("mor_del").filter(col("k") === 77L).count() === 0L)
    // pushed aggregate folds too
    assert(scan("mor_del").groupBy().count().collect().head.getLong(0) === 999L)
    // time travel: the pre-delete snapshot still serves the row
    assert(scan("mor_del")
      .where(lit(true)).count() === 999L)
    val v1 = before.version
    assert(spark.read.format("graft-buckets").option("table", "mor_del")
      .option("versionasof", v1.toString).load().filter(col("k") === 77L).count() === 1L)
  }

  test("MOR UPDATE via Spark's delta protocol: position delete + delta row, base arrays shared") {
    mkTable("mor_upd")
    val before = BucketStore.get("mor_upd")
    spark.sql("UPDATE graft.`mor_upd` SET v = 'renamed', d = d + 0.5 WHERE k = 123")
    val after = BucketStore.get("mor_upd")
    before.buckets.indices.foreach(b =>
      assert(after.buckets(b) eq before.buckets(b),
        s"bucket $b base array was rewritten by a 1-row MOR update"))
    assert(after.mor.size === 1)
    val m = after.mor.values.head
    assert(m.deleted.cardinality() === 1 && m.delta.length === 1)
    // the update landed in the OWNING bucket (key unchanged)
    val (b, _) = after.mor.head
    assert(BucketFunction.bucketFor(123L, 8).contains(b))
    // folded read serves the new image exactly once
    val got = scan("mor_upd").filter(col("k") === 123L).collect()
    assert(got.length === 1)
    assert(got.head.getString(1) === "renamed" && got.head.getDouble(2) === 123 * 2.0 + 0.5)
    assert(scan("mor_upd").count() === 1000L)
    // stacked MOR commits: delete the row the update created
    spark.sql("DELETE FROM graft.`mor_upd` WHERE k = 123")
    assert(scan("mor_upd").count() === 999L)
    assert(scan("mor_upd").filter(col("k") === 123L).count() === 0L)
    val stacked = BucketStore.get("mor_upd")
    assert(stacked.buckets(b) eq before.buckets(b), "stacking must keep sharing the base")
  }

  test("CDC across MOR commits emits the minimal logical diff (coalesced update, single delete)") {
    mkTable("mor_cdc", rows = 400, buckets = 4)
    val v1 = BucketStore.currentVersion("mor_cdc")
    spark.sql("UPDATE graft.`mor_cdc` SET d = -1.0 WHERE k = 42")
    spark.sql("DELETE FROM graft.`mor_cdc` WHERE k = 43")
    val changes = spark.read.format("graft-buckets")
      .option("table", "mor_cdc").option("mode", "cdc")
      .option("changesstart", v1.toString).load()
      .select(col("k"), col(CdcSchema.ChangeType)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes === Set(
      (42L, CdcSchema.UpdatePre), (42L, CdcSchema.UpdatePost),
      (43L, CdcSchema.Delete)),
      s"CDC across MOR commits must net to the logical changes, got $changes")
  }

  test("CDC over a COLD MoR window serves from MoR state: O(changed rows), zero heap faults") {
    mkTable("mor_cdc_cold", rows = 400, buckets = 4)
    val v1 = BucketStore.currentVersion("mor_cdc_cold")
    spark.sql("UPDATE graft.`mor_cdc_cold` SET d = -1.0 WHERE k = 42")
    spark.sql("DELETE FROM graft.`mor_cdc_cold` WHERE k = 43")
    BucketStore.evictTable("mor_cdc_cold")
    assert(BucketStore.get("mor_cdc_cold").buckets.loadedCount === 0)
    val fs0 = BucketedCdc.morFastSteps.get()
    val changes = spark.read.format("graft-buckets")
      .option("table", "mor_cdc_cold").option("mode", "cdc")
      .option("changesstart", v1.toString).load()
      .select(col("k"), col("d"), col(CdcSchema.ChangeType)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(changes === Set(
      (42L, 84.0, CdcSchema.UpdatePre), (42L, -1.0, CdcSchema.UpdatePost),
      (43L, 86.0, CdcSchema.Delete)),
      s"cold MoR CDC must emit the logical diff with exact pre-images, got $changes")
    assert(BucketedCdc.morFastSteps.get() > fs0,
      "a base-sharing MoR window must be served from MoR state, not fetch-and-diff")
    assert(BucketStore.get("mor_cdc_cold").buckets.loadedCount === 0,
      "CDC over a cold MoR window must not fault a single block — pre-images stream projected")
    BucketStore.drop("mor_cdc_cold")
  }

  test("CDC window crossing a compaction still nets to the logical diff — the fold is CDC-invisible") {
    mkTable("mor_cdc_comp", rows = 400, buckets = 4)
    val v1 = BucketStore.currentVersion("mor_cdc_comp")
    spark.sql("UPDATE graft.`mor_cdc_comp` SET d = -1.0 WHERE k = 42")
    spark.sql("DELETE FROM graft.`mor_cdc_comp` WHERE k = 43")
    // the maintenance fold publishes a version INSIDE the CDC window;
    // it rewrites every touched bucket but changes no logical row
    assert(spark.sql("CALL graft.compact('mor_cdc_comp')").collect().head.getInt(0) >= 1)
    val changes = spark.read.format("graft-buckets")
      .option("table", "mor_cdc_comp").option("mode", "cdc")
      .option("changesstart", v1.toString).load()
      .select(col("k"), col(CdcSchema.ChangeType)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(changes === Set(
      (42L, CdcSchema.UpdatePre), (42L, CdcSchema.UpdatePost),
      (43L, CdcSchema.Delete)),
      s"a compaction inside the window must be CDC-invisible, got $changes")
  }

  test("auto-compaction: MoR state past the policy thresholds folds down in-statement") {
    val (prevPct, prevMin) = (BucketStore.autoCompactRatioPct, BucketStore.autoCompactMinRows)
    try {
      // policy: fold when >= 10 pending rows AND pending >= 2% of base
      BucketStore.autoCompactRatioPct = 2
      BucketStore.autoCompactMinRows = 10
      mkTable("mor_auto", rows = 500, buckets = 4)
      // below the floor: 5 deletion marks stay pending MoR state
      spark.sql("DELETE FROM graft.`mor_auto` WHERE k <= 5")
      assert(BucketStore.get("mor_auto").mor.nonEmpty,
        "below-threshold DML must stay merge-on-read")
      val preFold = scan("mor_auto").agg(
        count(lit(1)), sum(col("d").cast(org.apache.spark.sql.types.DecimalType(18, 4))))
        .collect().head
      // crossing the floor (5 + 10 = 15 pending >= 10 and >= 2% of 500):
      // the SAME statement triggers the fold-down — no manual CALL
      spark.sql("DELETE FROM graft.`mor_auto` WHERE k > 5 AND k <= 15")
      val t = BucketStore.get("mor_auto")
      assert(t.mor.isEmpty,
        "crossing the auto-compaction thresholds must fold pending MoR state")
      assert(BucketStore.liveRowCount(t) === 485L)
      val postFold = scan("mor_auto").agg(
        count(lit(1)), sum(col("d").cast(org.apache.spark.sql.types.DecimalType(18, 4))))
        .collect().head
      assert(postFold.getLong(0) === preFold.getLong(0) - 10L)
      // and reads keep working identically after the fold
      assert(scan("mor_auto").filter(col("k") === 3L).count() === 0L)
      assert(scan("mor_auto").filter(col("k") === 100L).count() === 1L)
    } finally {
      BucketStore.autoCompactRatioPct = prevPct
      BucketStore.autoCompactMinRows = prevMin
      BucketStore.drop("mor_auto")
    }
  }

  test("compaction of a COLD table folds only MoR buckets — clean buckets never load") {
    mkTable("mor_cmp_cold", rows = 800, buckets = 8)
    spark.sql("DELETE FROM graft.`mor_cmp_cold` WHERE k = 5")
    BucketStore.evictTable("mor_cmp_cold")
    assert(BucketStore.get("mor_cmp_cold").buckets.loadedCount === 0)
    val before = BucketStore.get("mor_cmp_cold")
    assert(spark.sql("CALL graft.compact('mor_cmp_cold')").collect().head.getInt(0) === 1)
    val after = BucketStore.get("mor_cmp_cold")
    val faulted = after.buckets.indices.count(b => after.buckets.block(b).isLoaded)
    assert(faulted === 1,
      s"compacting ONE MoR bucket of a cold table must fault exactly 1 bucket, faulted $faulted")
    val retained = after.buckets.indices.count(b => after.buckets.sharesWith(before.buckets, b))
    assert(retained === 7, "clean buckets must retain their blocks (and files) across compaction")
    assert(after.mor.isEmpty)
    assert(scan("mor_cmp_cold").count() === 799L)
    BucketStore.drop("mor_cmp_cold")
  }

  test("compact folds deletion vectors back into clean arrays; answers unchanged; no-op is free") {
    mkTable("mor_comp", rows = 500, buckets = 4)
    spark.sql("DELETE FROM graft.`mor_comp` WHERE k <= 10")
    spark.sql("UPDATE graft.`mor_comp` SET d = 0.0 WHERE k = 500")
    val preCompact = scan("mor_comp").agg(
      count(lit(1)), sum(col("d").cast(org.apache.spark.sql.types.DecimalType(18, 4))))
      .collect().head
    assert(BucketStore.get("mor_comp").mor.nonEmpty)
    val res = spark.sql("CALL graft.compact('mor_comp')").collect().head
    assert(res.getInt(0) >= 1)
    val t = BucketStore.get("mor_comp")
    assert(t.mor.isEmpty, "compact must clear all pending MOR state")
    assert(BucketStore.liveRowCount(t) === 490L)
    val postCompact = scan("mor_comp").agg(
      count(lit(1)), sum(col("d").cast(org.apache.spark.sql.types.DecimalType(18, 4))))
      .collect().head
    assert(postCompact === preCompact, "compaction must not change any answer")
    // nothing pending → nothing published
    val v = BucketStore.currentVersion("mor_comp")
    assert(spark.sql("CALL graft.compact('mor_comp')").collect().head.getInt(0) === 0)
    assert(BucketStore.currentVersion("mor_comp") === v)
  }

  test("clustered MOR table: folded view keeps cluster order, sliced range reads stay exact") {
    BucketStore.drop("mor_clust")
    val df = (0 until 2000).map(i => ((i % 37).toLong, i.toLong, s"r$i")).toDF("k", "seq", "tag")
    BucketStore.load(spark, "mor_clust", df, "k", 4, clusterBy = Some("seq"))
    BucketStore.setDmlMode("mor_clust", BucketStore.MergeOnRead)
    // the update moves seq 100 to the top of the order — the folded
    // view must re-merge it into sorted position
    spark.sql("UPDATE graft.`mor_clust` SET seq = 5000 WHERE seq = 100")
    spark.sql("DELETE FROM graft.`mor_clust` WHERE seq = 101")
    val t = BucketStore.get("mor_clust")
    val si = t.schema.fieldIndex("seq")
    t.buckets.indices.foreach { b =>
      val seqs = BucketStore.effectiveRows(t, b).map(_.getLong(si))
      assert(seqs.sameElements(seqs.sorted), s"folded bucket $b lost cluster order")
    }
    assert(scan("mor_clust").filter(col("seq") >= 99L && col("seq") <= 102L)
      .collect().map(_.getLong(1)).sorted.toSeq === Seq(99L, 102L))
    assert(scan("mor_clust").filter(col("seq") === 5000L).count() === 1L)
    assert(scan("mor_clust").count() === 1999L)
  }

  test("Z-ORDER bucket with LIVE DELTA rides the vectorized path: byte- and ORDER-identity with the fold") {
    val name = "mor_zvec"
    BucketStore.drop(name)
    // two z dimensions of different widths (rank normalization in
    // play) plus nulls in one dimension — the curve shapes the fold
    // must reproduce vectorized
    val df = (0 until 3000).map { i =>
      (i.toLong, (i * 37 % 101).toLong,
        if (i % 17 == 0) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(i * 0.75),
        s"tag$i")
    }.toDF("k", "x", "y", "tag")
    BucketStore.load(spark, name, df, "k", 4, clusterBy = Some("zorder(x,y)"))
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    // UPDATEs produce LIVE delta rows (position delete + re-insert at
    // a new curve position) — the shape that used to keep the fold
    spark.sql(s"UPDATE graft.`$name` SET x = 9999 WHERE k % 29 = 0")
    spark.sql(s"DELETE FROM graft.`$name` WHERE k % 31 = 0")
    val t = BucketStore.get(name)
    assert(t.mor.exists { case (b, m) =>
      m.delta.indices.exists(j => !m.deleted.get(t.buckets.block(b).rowCount + j))
    }, "the DML must leave live delta rows")
    def rd() = spark.read.format("graft-buckets").option("table", name).load()
    // ORDER matters: compare per-bucket sequences, not sets — the
    // vectorized merge must reproduce the fold's Morton serving order
    // exactly, ties included (base before delta)
    val fold = ScanReference.fold(spark, name)
    val want = fold.collect().map(_.toSeq).toSeq
    BucketStore.evictTable(name)
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val got = rd().collect().map(_.toSeq).toSeq
    assert(got === want, "vectorized z-merge must be order-identical to the fold")
    assert(FileStore.vectorReads.get() - vr0 === t.buckets.length.toLong,
      "every z-ordered MoR bucket must decode vectorized")
    assert(FileStore.filesRead.get() === fr0, "no bucket may row-materialize")
    assert(BucketStore.get(name).buckets.loadedCount === 0, "nothing may fault into the heap")
    // filtered + projected through the same z-merge
    val wantF = fold.filter(col("x") === 9999L)
      .select(col("k"), col("tag")).collect().map(_.toSeq).toSeq
    BucketStore.evictTable(name)
    val gotF = rd().filter(col("x") === 9999L)
      .select(col("k"), col("tag")).collect().map(_.toSeq).toSeq
    assert(gotF === wantF)
    BucketStore.drop(name)
  }

  test("delta positions are snapshot-pinned: conflicts are row-granular, disjoint interleaves compose") {
    mkTable("mor_race", rows = 100, buckets = 2)
    val t = BucketStore.get("mor_race")
    val staleVersion = t.version
    val noIns = Array.fill(2)(Array.empty[org.apache.spark.sql.Row])
    // someone else commits first — a DIFFERENT row's bits: base arrays
    // and delta prefixes are untouched, so the stale-planned delta
    // COMPOSES (round 15; previously ANY interleave failed)
    spark.sql("DELETE FROM graft.`mor_race` WHERE k = 1")
    BucketStore.applyDelta("mor_race",
      Array(Array(0), Array.empty[Int]), noIns, t.layoutEpoch, staleVersion)
    assert(scan("mor_race").count() === 98L)
    // the SAME position against the same stale snapshot: a genuine
    // write-write conflict (committing would double-apply the delete)
    val ex = intercept[BucketStore.ConcurrentWriteException] {
      BucketStore.applyDelta("mor_race",
        Array(Array(0), Array.empty[Int]), noIns, t.layoutEpoch, staleVersion)
    }
    assert(ex.getMessage.contains("retry the statement"), ex.getMessage)
    // a compaction re-materializes the touched bucket's base —
    // positions planned against the old snapshot are invalid, loudly
    BucketStore.compact("mor_race")
    val ex2 = intercept[BucketStore.ConcurrentWriteException] {
      BucketStore.applyDelta("mor_race",
        Array(Array(1), Array.empty[Int]), noIns, t.layoutEpoch, staleVersion)
    }
    assert(ex2.getMessage.contains("re-materialized"), ex2.getMessage)
    // the prescribed recovery — re-plan against the current snapshot —
    // succeeds: every effect lands exactly once
    BucketStore.applyDelta("mor_race",
      Array(Array(1), Array.empty[Int]), noIns, t.layoutEpoch,
      BucketStore.currentVersion("mor_race"))
    assert(scan("mor_race").filter(col("k") === 1L).count() === 0L)
    assert(scan("mor_race").count() === 97L)
  }

  test("concurrent DML writers: every statement either applies exactly or fails loudly — no lost update") {
    mkTable("mor_mt", rows = 100, buckets = 2)
    // 8 threads each delete a DISTINCT key through the full SQL path.
    // Optimistic versioning means a loser whose positions were planned
    // against a superseded snapshot fails with the retry message; what
    // may NEVER happen is a silent lost update — a statement that
    // "succeeds" without its row actually going away.
    val keys = (1 to 8).map(_ * 11L)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Long, Option[String]]()
    val threads = keys.map { k =>
      new Thread(() => {
        try {
          spark.sql(s"DELETE FROM graft.`mor_mt` WHERE k = $k")
          outcomes.put(k, None)
        } catch {
          case e: Throwable => outcomes.put(k, Some(e.getMessage))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val survivors = scan("mor_mt").select("k").as[Long].collect().toSet
    keys.foreach { k =>
      outcomes.get(k) match {
        case None => assert(!survivors.contains(k), s"statement for k=$k succeeded but row survived")
        case Some(msg) =>
          assert(survivors.contains(k), s"statement for k=$k failed ('$msg') but row vanished")
          assert(msg.contains("retry the statement") || msg.contains("snapshot-relative"),
            s"loser must fail with the optimistic-retry message, got: $msg")
      }
    }
    val failed = keys.count(k => outcomes.get(k).isDefined)
    assert(scan("mor_mt").count() === 100L - (8 - failed))
  }

  test("copy-on-write stays the default: UPDATE on a plain table rewrites the bucket, no MOR state") {
    BucketStore.drop("cow_still")
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    BucketStore.load(spark, "cow_still", df, "k", 4)
    val before = BucketStore.get("cow_still")
    spark.sql("UPDATE graft.`cow_still` SET v = 'x' WHERE k = 5")
    val after = BucketStore.get("cow_still")
    assert(after.mor.isEmpty)
    val owning = BucketFunction.bucketFor(5L, 4).get
    assert(!(after.buckets(owning) eq before.buckets(owning)),
      "copy-on-write must rewrite the owning bucket")
    assert(scan("cow_still").filter(col("k") === 5L).collect().head.getString(1) === "x")
  }

  test("TBLPROPERTIES('write.dml.mode') selects the strategy at CREATE; typos are loud") {
    spark.sql("DROP TABLE IF EXISTS graft.`mor_ddl`")
    spark.sql("CREATE TABLE graft.`mor_ddl` (k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('write.dml.mode'='merge-on-read')")
    assert(BucketStore.dmlModeOf("mor_ddl") === BucketStore.MergeOnRead)
    spark.sql("INSERT INTO graft.`mor_ddl` VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val before = BucketStore.get("mor_ddl")
    spark.sql("UPDATE graft.`mor_ddl` SET v = 'z' WHERE k = 2")
    val after = BucketStore.get("mor_ddl")
    assert(after.mor.nonEmpty, "the DDL-selected mode must route DML through the delta path")
    before.buckets.indices.foreach(b => assert(after.buckets(b) eq before.buckets(b)))
    assert(scan("mor_ddl").filter(col("k") === 2L).collect().head.getString(1) === "z")
    val bad = intercept[Exception] {
      spark.sql("CREATE TABLE graft.`mor_bad` (k BIGINT) PARTITIONED BY (bucket(2, k)) " +
        "TBLPROPERTIES ('write.dml.mode'='merge-on-reed')")
    }
    assert(bad.getMessage.contains("merge-on-read"), bad.getMessage)
  }
}
