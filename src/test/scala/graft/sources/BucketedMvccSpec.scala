package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sources.bucketed._

/** MVCC over the bucket store (round 7): retained snapshot history,
  * time-travel reads (option + SQL `VERSION AS OF`), vacuum/retention
  * discipline, and the CDC change feed that replays per-bucket
  * row-level deltas instead of whole snapshots.
  */
class BucketedMvccSpec extends SparkSuite {

  private def mkTable(name: String, rows: Seq[(Long, String, Double)], buckets: Int = 4): Unit = {
    import spark.implicits._
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      rows.toDF("k", "tag", "v"), "k", buckets)
  }

  test("MVCC: a scan pinned before a republish still reads its snapshot afterwards") {
    mkTable("mvcc_iso", Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val v1 = BucketStore.currentVersion("mvcc_iso")
    BucketStore.deleteWhere("mvcc_iso", _.getString(1) == "b")
    // the republish happened BETWEEN pinning and reading — the exact
    // interleaving that used to abort with "snapshot violated"
    val pinned = spark.read.format("graft-buckets")
      .option("table", "mvcc_iso").option("versionAsOf", v1).load()
    assert(pinned.collect().map(_.getString(1)).sorted.toSeq === Seq("a", "b", "c"))
    val current = spark.read.format("graft-buckets").option("table", "mvcc_iso").load()
    assert(current.collect().map(_.getString(1)).sorted.toSeq === Seq("a", "c"))
  }

  test("SQL VERSION AS OF reads a retained snapshot through the catalog") {
    mkTable("mvcc_tt", Seq((1L, "x", 1.0), (2L, "y", 2.0)))
    val v1 = BucketStore.currentVersion("mvcc_tt")
    BucketStore.deleteWhere("mvcc_tt", _ => true)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.mvcc_tt VERSION AS OF $v1")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.mvcc_tt").head().getLong(0) === 0L)
  }

  private def tsLit(micros: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L))

  test("SQL TIMESTAMP AS OF maps a commit timestamp to the version current then") {
    mkTable("mvcc_ts", Seq((1L, "x", 1.0), (2L, "y", 2.0)))
    val v1 = BucketStore.currentVersion("mvcc_ts")
    val ts1 = BucketStore.commitTimestamp("mvcc_ts", v1)
    BucketStore.deleteWhere("mvcc_ts", _.getString(1) == "y")
    val v2 = BucketStore.currentVersion("mvcc_ts")
    val ts2 = BucketStore.commitTimestamp("mvcc_ts", v2)
    assert(ts2 > ts1) // stamps are strictly increasing with version order
    // exactly at v1's commit → v1's contents, even though v2 exists
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.mvcc_ts TIMESTAMP AS OF '${tsLit(ts1)}'")
      .head().getLong(0) === 2L)
    // between the commits → still v1 (latest ≤ t)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.mvcc_ts TIMESTAMP AS OF '${tsLit(ts2 - 1)}'")
      .head().getLong(0) === 2L)
    // at/after v2 → v2
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.mvcc_ts TIMESTAMP AS OF '${tsLit(ts2)}'")
      .head().getLong(0) === 1L)
    // before the first retained commit → loud, names the retained range
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft.mvcc_ts TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
    assert(ex.getMessage.contains("no retained snapshot"), ex.getMessage)
  }

  test("'timestampasof' scan option: the format path's twin of SQL TIMESTAMP AS OF") {
    mkTable("mvcc_tso", Seq((1L, "x", 1.0), (2L, "y", 2.0)))
    val v1 = BucketStore.currentVersion("mvcc_tso")
    val ts1 = BucketStore.commitTimestamp("mvcc_tso", v1)
    BucketStore.deleteWhere("mvcc_tso", _ => true)
    assert(spark.read.format("graft-buckets")
      .option("table", "mvcc_tso").option("timestampAsOf", ts1).load().count() === 2L)
    // combination and typo rejection, same loudness as versionasof
    intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets").option("table", "mvcc_tso")
        .option("timestampAsOf", ts1).option("versionAsOf", v1).load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets").option("table", "mvcc_tso")
        .option("timestampAsOf", "not-a-ts").load()
    }
    // a pinned handle is read-only — writes are loud, never silently
    // redirected to current
    val ex = intercept[Exception] {
      import spark.implicits._
      Seq((9L, "z", 9.0)).toDF("k", "tag", "v")
        .write.format("graft-buckets").option("table", "mvcc_tso")
        .option("versionAsOf", v1).mode("append").save()
    }
    assert(ex.getMessage.contains("read-only"), ex.getMessage)
  }

  test("TIMESTAMP AS OF under an injected deterministic clock") {
    val saved = BucketStore.clock
    try {
      // logical clock: publishes stamp 1s apart from a fixed epoch —
      // but strictly-increasing enforcement still applies vs earlier
      // wall-clock stamps, so read the RECORDED stamps, don't assume
      val tick = new java.util.concurrent.atomic.AtomicLong(1735689600000000L) // 2025-01-01 UTC
      BucketStore.clock = () => tick.addAndGet(1000000L)
      mkTable("mvcc_clk", Seq((1L, "a", 1.0)))
      val v1 = BucketStore.currentVersion("mvcc_clk")
      BucketStore.deleteWhere("mvcc_clk", _ => true)
      val t1 = BucketStore.commitTimestamp("mvcc_clk", v1)
      assert(spark.sql(
        s"SELECT count(*) AS n FROM graft.mvcc_clk TIMESTAMP AS OF '${tsLit(t1)}'")
        .head().getLong(0) === 1L)
    } finally BucketStore.clock = saved
  }

  test("VERSION AS OF 0 / negative gets the option parser's instructive message") {
    mkTable("mvcc_v0", Seq((1L, "x", 1.0)))
    // '-3' goes through the string overload (a bare negative is a parse error)
    for (bad <- Seq("0", "'-3'")) {
      val ex = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft.mvcc_v0 VERSION AS OF $bad").collect()
      }
      assert(ex.getMessage.contains("must be a positive integer version"),
        s"VERSION AS OF $bad: ${ex.getMessage}")
    }
  }

  test("CREATE TABLE rejects unknown TBLPROPERTIES; cluster_by is case-insensitive") {
    BucketStore.drop("props_bad")
    val ex = intercept[Exception] {
      spark.sql("CREATE TABLE graft.props_bad (k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('clusterby'='v')")
    }
    assert(ex.getMessage.contains("unknown table property") &&
      ex.getMessage.contains("cluster_by"), ex.getMessage)
    assert(!BucketStore.exists("props_bad"))
    // mis-cased key is ACCEPTED case-insensitively (matches ConnectorOptions)
    BucketStore.drop("props_ci")
    spark.sql("CREATE TABLE graft.props_ci (k BIGINT, seq BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('Cluster_By'='seq')")
    assert(BucketStore.get("props_ci").clusterCol.contains("seq"))
    BucketStore.drop("props_ci")
  }

  test("CREATE TABLE OPTIONS pass through validated; bogus option names rejected") {
    BucketStore.drop("opt_ok")
    // a legal scan option in OPTIONS(...) must not trip the
    // table-property vocabulary (Spark passes it bare AND 'option.'-prefixed)
    spark.sql("CREATE TABLE graft.opt_ok (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k)) OPTIONS('fetchsize'='500')")
    assert(BucketStore.exists("opt_ok"))
    BucketStore.drop("opt_ok")
    // a bogus option name is loud, with the SCAN vocabulary
    BucketStore.drop("opt_bad")
    val ex = intercept[Exception] {
      spark.sql("CREATE TABLE graft.opt_bad (k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (bucket(4, k)) OPTIONS('fetchsiez'='500')")
    }
    assert(ex.getMessage.contains("unknown option 'fetchsiez'"), ex.getMessage)
    assert(!BucketStore.exists("opt_bad"))
  }

  test("DROP racing a publish cannot resurrect the table") {
    // drop() and the publish read-modify-write share the store monitor:
    // hammer the interleaving — after every (publish ∥ drop) pair the
    // table must either not exist or exist with consistent history.
    for (_ <- 1 to 50) {
      mkTable("mvcc_race", Seq((1L, "a", 1.0)))
      val publisher = new Thread(() => {
        try BucketStore.deleteWhere("mvcc_race", _ => false)
        catch { case _: IllegalArgumentException => () } // dropped first — fine
      })
      publisher.start()
      BucketStore.drop("mvcc_race")
      publisher.join()
      // a resurrected table would surface here as exists==true with a
      // history whose firstVersion floor was already removed
      if (BucketStore.exists("mvcc_race")) {
        assert(BucketStore.retained("mvcc_race").nonEmpty)
        BucketStore.drop("mvcc_race")
      }
    }
  }

  test("vacuum trims history; reading a vacuumed snapshot fails loudly") {
    mkTable("mvcc_vac", Seq((1L, "a", 1.0)))
    val v1 = BucketStore.currentVersion("mvcc_vac")
    BucketStore.deleteWhere("mvcc_vac", _ => false) // no-op publish
    BucketStore.deleteWhere("mvcc_vac", _ => false)
    // 4 retained: load is create + distributed write commit (two
    // versions, same as the CTAS path) plus the two no-op publishes
    assert(BucketStore.retained("mvcc_vac").length === 4)
    assert(BucketStore.vacuum("mvcc_vac", keepLast = 1) === 3)
    assert(BucketStore.retained("mvcc_vac").length === 1)
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets")
        .option("table", "mvcc_vac").option("versionAsOf", v1).load().collect()
    }
    assert(ex.getMessage.contains("not retained"))
    intercept[IllegalArgumentException](BucketStore.vacuum("mvcc_vac", keepLast = 0))
  }

  test("retention cap: publishes beyond the window auto-vacuum the oldest snapshots") {
    mkTable("mvcc_cap", Seq((1L, "a", 1.0)))
    val v1 = BucketStore.currentVersion("mvcc_cap")
    (1 to BucketStore.RetainedVersions + 5).foreach { _ =>
      BucketStore.deleteWhere("mvcc_cap", _ => false)
    }
    val kept = BucketStore.retained("mvcc_cap")
    assert(kept.length === BucketStore.RetainedVersions)
    assert(!kept.contains(v1), "the original snapshot must have aged out")
    intercept[IllegalArgumentException](BucketStore.snapshot("mvcc_cap", v1))
  }

  test("CDC feed: exact change set across create, insert, delete, and COW update") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc_t")
    spark.sql("CREATE TABLE graft.cdc_t (k BIGINT, tag STRING, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.cdc_t VALUES (1, 'a', 1.0), (2, 'b', 2.0), " +
      "(3, 'c', 3.0), (4, 'd', 4.0)")
    val vIns = BucketStore.currentVersion("cdc_t")
    spark.sql("DELETE FROM graft.cdc_t WHERE tag = 'b'")
    val vDel = BucketStore.currentVersion("cdc_t")
    spark.sql("UPDATE graft.cdc_t SET v = 30.0 WHERE tag = 'c'")
    val vUpd = BucketStore.currentVersion("cdc_t")
    val feed = spark.readStream.format("graft-buckets")
      .option("table", "cdc_t").option("mode", "cdc").load()
    val got = graft.streaming.StreamOps.runToMemory(feed, "append")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getLong(4))).toSet
    val expected = Set(
      (1L, "a", 1.0, "insert", vIns), (2L, "b", 2.0, "insert", vIns),
      (3L, "c", 3.0, "insert", vIns), (4L, "d", 4.0, "insert", vIns),
      (2L, "b", 2.0, "delete", vDel),
      // the COW update's same-key delete+insert coalesce into an
      // update_preimage/update_postimage pair (CdcCoalesce)
      (3L, "c", 3.0, "update_preimage", vUpd), (3L, "c", 30.0, "update_postimage", vUpd))
    assert(got === expected)
  }

  test("CDC minimality: a COW bucket rewrite emits only the changed rows, not the bucket") {
    import spark.implicits._
    // 200 rows on ONE key → one bucket; the UPDATE below rewrites that
    // whole bucket copy-on-write, but the feed must emit just 2 deltas
    BucketStore.drop("cdc_cow")
    BucketStore.load(spark, "cdc_cow",
      (1 to 200).map(i => (7L, i, 1.0)).toDF("k", "seq", "v"), "k", 4)
    spark.sql("UPDATE graft.cdc_cow SET v = 9.0 WHERE seq = 123")
    val vUpd = BucketStore.currentVersion("cdc_cow")
    val feed = spark.readStream.format("graft-buckets")
      .option("table", "cdc_cow").option("mode", "cdc").load()
    val rows = graft.streaming.StreamOps.runToMemory(feed, "append").collect()
    val updDeltas = rows.filter(_.getLong(4) == vUpd)
    assert(updDeltas.length === 2,
      s"COW rewrite of a 200-row bucket must net to 2 deltas, got ${updDeltas.length}")
    assert(updDeltas.map(r => (r.getString(3), r.getDouble(2))).toSet ===
      Set(("update_preimage", 1.0), ("update_postimage", 9.0)))
    assert(rows.length === 202, "initial snapshot (200 inserts) + the 2 update deltas")
  }

  test("CdcCoalesce: same-key delete+insert become adjacent update pairs; rest stay plain") {
    import org.apache.spark.sql.Row
    def r(k: Any, v: String) = Row(k, v)
    val got = CdcCoalesce.pair(
      Vector(r(1L, "old"), r(2L, "gone")),
      Vector(r(1L, "new"), r(3L, "fresh")), keyIdx = 0)
    assert(got === Vector(
      (r(1L, "old"), "update_preimage"), (r(1L, "new"), "update_postimage"),
      (r(2L, "gone"), "delete"), (r(3L, "fresh"), "insert")))
    // multiplicity pairs FIFO; the unpaired surplus keeps its plain tag
    val m = CdcCoalesce.pair(Vector(r(5L, "a1"), r(5L, "a2")), Vector(r(5L, "b1")), 0)
    assert(m === Vector(
      (r(5L, "a1"), "update_preimage"), (r(5L, "b1"), "update_postimage"),
      (r(5L, "a2"), "delete")))
    // null keys pair like any other key value
    val n = CdcCoalesce.pair(Vector(r(null, "x")), Vector(r(null, "y")), 0)
    assert(n.map(_._2) === Vector("update_preimage", "update_postimage"))
    // replay invariant: pre/delete remove, post/insert add — multiset
    // reconstruction is tag-independent
    val adds = got.collect { case (row, t) if t == "insert" || t == "update_postimage" => row }
    val rms = got.collect { case (row, t) if t == "delete" || t == "update_preimage" => row }
    assert(adds.toSet === Set(r(1L, "new"), r(3L, "fresh")))
    assert(rms.toSet === Set(r(1L, "old"), r(2L, "gone")))
  }

  test("CDC: a bucket-key-moving UPDATE stays delete+insert (cross-bucket, never coalesced)") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc_mv_k")
    spark.sql("CREATE TABLE graft.cdc_mv_k (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.cdc_mv_k VALUES (1, 'a'), (2, 'b')")
    val vIns = BucketStore.currentVersion("cdc_mv_k")
    spark.sql("UPDATE graft.cdc_mv_k SET k = 100 WHERE k = 1") // moves bucket
    val vUpd = BucketStore.currentVersion("cdc_mv_k")
    val rows = spark.read.format("graft-buckets")
      .option("table", "cdc_mv_k").option("mode", "cdc")
      .option("changesStart", vIns.toString).load().collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet ===
      Set((1L, "delete", vUpd), (100L, "insert", vUpd)))
  }

  test("CDC replay from a vacuumed offset fails loudly instead of skipping history") {
    mkTable("cdc_vac", Seq((1L, "a", 1.0)))
    val v1 = BucketStore.currentVersion("cdc_vac")
    BucketStore.deleteWhere("cdc_vac", _.getString(1) == "a") // v2
    BucketStore.deleteWhere("cdc_vac", _ => false) // v3
    BucketStore.vacuum("cdc_vac", keepLast = 1)
    val ms = new BucketCdcMicroBatchStream("cdc_vac", BucketStore.get("cdc_vac").schema, 1000)
    val ex = intercept[IllegalArgumentException] {
      ms.planInputPartitions(new BucketStreamOffset(v1), ms.latestOffset())
    }
    assert(ex.getMessage.contains("left the MVCC window"))
    // replay from scratch is always legal: the oldest retained snapshot
    // becomes the initial insert batch
    assert(ms.planInputPartitions(ms.initialOffset(), ms.latestOffset()).nonEmpty)
  }

  test("CDC option discipline: unbounded batch, versionAsOf, bad mode all rejected") {
    mkTable("cdc_opts", Seq((1L, "a", 1.0)))
    val ex = intercept[Exception] {
      spark.read.format("graft-buckets")
        .option("table", "cdc_opts").option("mode", "cdc").load().collect()
    }
    assert(ex.getMessage.contains("needs an explicit window"))
    val ex2 = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets")
        .option("table", "cdc_opts").option("mode", "cdc")
        .option("versionAsOf", "1").load()
    }
    assert(ex2.getMessage.contains("cannot combine"))
    val ex3 = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets")
        .option("table", "cdc_opts").option("mode", "sideways").load()
    }
    assert(ex3.getMessage.contains("'snapshot' or 'cdc'"))
    val ex4 = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets")
        .option("table", "cdc_opts").option("changesStart", "0").load()
    }
    assert(ex4.getMessage.contains("only apply to mode=cdc"))
    // upsert is write-only and must be rejected at PARSE time against
    // every time-travel axis — timestampasof the same as versionasof
    val ex5 = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets")
        .option("table", "cdc_opts").option("upsert", "true")
        .option("timestampAsOf", "1").load()
    }
    assert(ex5.getMessage.contains("'upsert' is a write option"))
  }

  test("ALTER TABLE ADD COLUMN: zero-rewrite evolution, padded reads, DML, CDC, time travel") {
    spark.sql("DROP TABLE IF EXISTS graft.evo_t")
    spark.sql("CREATE TABLE graft.evo_t (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(2, k))")
    spark.sql("INSERT INTO graft.evo_t VALUES (1, 1.0), (2, 2.0)")
    val vPre = BucketStore.currentVersion("evo_t")
    spark.sql("ALTER TABLE graft.evo_t ADD COLUMN tag STRING")
    val vAlter = BucketStore.currentVersion("evo_t")
    spark.sql("INSERT INTO graft.evo_t VALUES (3, 3.0, 'x')")
    // current reads: evolved schema, pre-ALTER rows NULL in the new col
    assert(spark.table("graft.evo_t").schema.fieldNames.toSeq === Seq("k", "v", "tag"))
    assert(spark.table("graft.evo_t").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet ===
      Set((1L, 1.0, None), (2L, 2.0, None), (3L, 3.0, Some("x"))))
    // zero rewrite: pre-ALTER rows still stored at the old arity
    assert(BucketStore.get("evo_t").buckets.flatten
      .filter(_.getLong(0) != 3L).forall(_.length == 2))
    // predicates and DML over the new column work on padded rows
    assert(spark.table("graft.evo_t").filter(col("tag").isNull).count() === 2)
    spark.sql("DELETE FROM graft.evo_t WHERE tag = 'x'")
    assert(spark.table("graft.evo_t").count() === 2)
    // time travel shows the pre-ALTER schema AND data
    val old = spark.sql(s"SELECT * FROM graft.evo_t VERSION AS OF $vPre")
    assert(old.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(old.count() === 2)
    // the CDC feed crosses the ALTER without phantom deltas: the
    // schema-change commit itself contributes NOTHING
    val feed = spark.readStream.format("graft-buckets")
      .option("table", "evo_t").option("mode", "cdc").load()
    val changes = graft.streaming.StreamOps.runToMemory(feed, "append").collect()
    assert(!changes.exists(_.getLong(4) == vAlter),
      s"ALTER commit v$vAlter must emit no deltas")
    assert(changes.count(_.getString(3) == "insert") === 3)
    assert(changes.count(_.getString(3) == "delete") === 1)
    // a batch change window ending BEFORE the ALTER still emits rows in
    // the DECLARED (current) schema — the missing column reads as NULL
    val preWindow = spark.read.format("graft-buckets")
      .option("table", "evo_t").option("mode", "cdc")
      .option("changesStart", "0").option("changesEnd", vPre.toString).load()
    assert(preWindow.schema.fieldNames.take(3).toSeq === Seq("k", "v", "tag"))
    val preRows = preWindow.collect()
    assert(preRows.length === 2)
    assert(preRows.forall(r => r.isNullAt(2) && r.getString(3) == "insert"))
    // rejections: positioned, non-null, drop
    intercept[Exception](
      spark.sql("ALTER TABLE graft.evo_t ADD COLUMN z STRING FIRST").collect())
    intercept[Exception](
      spark.sql("ALTER TABLE graft.evo_t ADD COLUMN z STRING NOT NULL").collect())
    intercept[Exception](
      spark.sql("ALTER TABLE graft.evo_t DROP COLUMN v").collect())
    // multi-change ALTER is atomic: the valid first column must NOT
    // survive its sibling's rejection
    intercept[Exception](
      spark.sql("ALTER TABLE graft.evo_t ADD COLUMNS (ok1 STRING, bad INT NOT NULL)").collect())
    assert(!spark.table("graft.evo_t").schema.fieldNames.contains("ok1"),
      "a failed multi-column ALTER must apply none of its changes")
  }

  test("a CDC window below a table's CREATION version is empty, not a vacuum error") {
    // burn global versions on another table so the new table's first
    // version is well above the probed window
    mkTable("cdc_burn", Seq((1L, "x", 1.0)))
    mkTable("cdc_young", Seq((1L, "a", 1.0)))
    val vFirst = BucketStore.firstVersion("cdc_young")
    assert(vFirst > 1)
    val got = spark.read.format("graft-buckets").option("table", "cdc_young")
      .option("mode", "cdc")
      .option("changesStart", "0").option("changesEnd", (vFirst - 1).toString)
      .load().collect()
    assert(got.isEmpty, "the table did not exist yet — the window is legitimately empty")
  }

  test("stream-side option rejections: versionAsOf snapshot stream, windowed CDC stream") {
    mkTable("mvcc_sopt", Seq((1L, "a", 1.0)))
    val v1 = BucketStore.currentVersion("mvcc_sopt")
    // a time-travel pin cannot drive a snapshot stream — fail at plan
    // time, never silently stream current versions
    val tt = new BucketedScanBuilder("mvcc_sopt",
      ConnectorOptions("mvcc_sopt", 1000, None, versionAsOf = Some(v1))).build()
    val ex = intercept[IllegalArgumentException] {
      tt.asInstanceOf[BucketedScan].toMicroBatchStream("ckpt")
    }
    assert(ex.getMessage.contains("batch-only"))
    // an explicit change window cannot drive a CDC stream (the
    // checkpoint is the cursor)
    val cdc = new CdcScan("mvcc_sopt",
      ConnectorOptions("mvcc_sopt", 1000, None, cdc = true, changesStart = Some(0L)))
    val ex2 = intercept[IllegalArgumentException](cdc.toMicroBatchStream("ckpt"))
    assert(ex2.getMessage.contains("batch-only"))
  }

  test("a batch CDC window entirely below retained history fails loudly, not empty") {
    mkTable("cdc_below", Seq((1L, "a", 1.0)))
    val v1 = BucketStore.currentVersion("cdc_below")
    BucketStore.deleteWhere("cdc_below", _ => false) // v2
    BucketStore.deleteWhere("cdc_below", _ => false) // v3
    BucketStore.vacuum("cdc_below", keepLast = 1)
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets").option("table", "cdc_below")
        .option("mode", "cdc")
        .option("changesStart", "0").option("changesEnd", v1.toString)
        .load().collect()
    }
    assert(ex.getMessage.contains("overlaps vacuumed history"))
  }

  test("a CDC window spanning a re-bucketing (including the base) is refused") {
    import spark.implicits._
    BucketStore.drop("cdc_rebucket")
    BucketStore.load(spark, "cdc_rebucket", Seq((1L, "a")).toDF("k", "tag"), "k", 4)
    val v1 = BucketStore.currentVersion("cdc_rebucket")
    BucketStore.load(spark, "cdc_rebucket", Seq((1L, "a"), (2L, "b")).toDF("k", "tag"), "k", 8)
    val v2 = BucketStore.currentVersion("cdc_rebucket")
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-buckets").option("table", "cdc_rebucket")
        .option("mode", "cdc")
        .option("changesStart", v1.toString).option("changesEnd", v2.toString)
        .load().collect()
    }
    assert(ex.getMessage.contains("re-bucketing"))
  }

  test("catalog surfaces: SHOW TABLES lists store tables, DESCRIBE properties show layout + MVCC state") {
    mkTable("mvcc_cat", Seq((1L, "a", 1.0)))
    val shown = spark.sql("SHOW TABLES IN graft").collect().map(_.getString(1))
    assert(shown.contains("mvcc_cat"))
    val t = new BucketedTable("mvcc_cat")
    val props = t.properties()
    assert(props.get("num_buckets") === "4")
    assert(props.get("bucket_key") === "k")
    assert(props.get("current_version") === BucketStore.currentVersion("mvcc_cat").toString)
    // 2 versions: load = create + distributed write commit
    assert(props.get("retained_versions") === "2")
    BucketStore.drop("mvcc_cat_clustered")
    BucketStore.load(spark, "mvcc_cat_clustered",
      spark.range(3).selectExpr("id AS k", "id AS seq"), "k", 2, clusterBy = Some("seq"))
    assert(new BucketedTable("mvcc_cat_clustered").properties().get("cluster_by") === "seq")
  }

  test("SQL CALL procedures: history lists retained snapshots, vacuum trims them") {
    mkTable("mvcc_proc", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val v1 = BucketStore.currentVersion("mvcc_proc")
    BucketStore.deleteWhere("mvcc_proc", _.getString(1) == "a")
    val v2 = BucketStore.currentVersion("mvcc_proc")
    val hist = spark.sql("CALL graft.history('mvcc_proc')").collect()
    // 3 snapshots: load's create + write commit, then the delete
    assert(hist.length === 3)
    assert(hist.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.drop(1) ===
      Seq((v1, 2L, false), (v2, 1L, true)))
    // commit_ts rides along (monotonic — the stamp the retention floor
    // compares against)
    val stamps = hist.map(_.getTimestamp(3).getTime)
    assert(stamps.sameElements(stamps.sorted), "commit_ts must be monotonic across history")
    val vac = spark.sql("CALL graft.vacuum('mvcc_proc', 1)").collect()
    assert(vac.map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((2, 1)))
    assert(spark.sql("CALL graft.history('mvcc_proc')").count() === 1)
    intercept[Exception](spark.sql("CALL graft.no_such_proc('x')").collect())
  }

  test("CALL graft.rebucket: new layout under one version, SPJ at the new count, CDC boundary loud") {
    // 2-bucket table with enough keys to populate a 8-bucket layout
    spark.sql("DROP TABLE IF EXISTS graft.reb_t")
    spark.sql("CREATE TABLE graft.reb_t (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(2, k))")
    spark.sql("INSERT INTO graft.reb_t SELECT id, id * 1.5 FROM range(1, 65)")
    val vOld = BucketStore.currentVersion("reb_t")
    val rowsBefore = spark.table("graft.reb_t").collect().map(_.toSeq).toSet

    val res = spark.sql("CALL graft.rebucket('reb_t', 8)").collect()
    assert(res.map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((2, 8)))
    val t = BucketStore.get("reb_t")
    assert(t.buckets.length === 8)
    // every row re-landed in the bucket its key hashes to at n=8
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(BucketFunction.bucketFor(r.getLong(0), 8).contains(b),
        s"k=${r.get(0)} in wrong bucket $b after rebucket"))
    }
    // data identical through the new layout
    assert(spark.table("graft.reb_t").collect().map(_.toSeq).toSet === rowsBefore)
    // MVCC: the pre-rebucket snapshot still reads through its pinned version
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.reb_t VERSION AS OF $vOld")
      .head().getLong(0) === 64L)

    // SPJ: joins a co-bucketed table AT THE NEW COUNT with zero Exchange
    spark.sql("DROP TABLE IF EXISTS graft.reb_dim")
    spark.sql("CREATE TABLE graft.reb_dim (k BIGINT, tag STRING) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graft.reb_dim SELECT id, concat('t', id) FROM range(1, 65)")
    val j = spark.table("graft.reb_t").hint("merge")
      .join(spark.table("graft.reb_dim"), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rebucketed⋈co-bucketed must SPJ:\n${plan.take(1200)}")
    assert(j.count() === 64L)

    // CDC window spanning the re-bucketing: the existing loud refusal
    val ex = intercept[Exception] {
      spark.read.format("graft-buckets")
        .option("table", "reb_t").option("mode", "cdc")
        .option("changesStart", vOld.toString).load().collect()
    }
    assert(ex.getMessage.contains("spans a re-bucketing"), ex.getMessage)
    // a window STARTING at the rebucket version is diffable again
    spark.sql("DELETE FROM graft.reb_t WHERE k = 5")
    val vReb = res.head.getLong(2)
    val net = spark.read.format("graft-buckets")
      .option("table", "reb_t").option("mode", "cdc")
      .option("changesStart", vReb.toString).load()
    assert(net.count() === 1L) // the single delete event

    // same-count rebucket is a loud no-op
    val same = intercept[Exception](spark.sql("CALL graft.rebucket('reb_t', 8)").collect())
    assert(same.getMessage.contains("already has"), same.getMessage)

    // a PINNED handle describes the snapshot it reads: partitioning
    // and DESCRIBE properties report the pre-rebucket layout
    val pinned = new BucketedTable("reb_t",
      ConnectorOptions.Defaults.copy(table = "reb_t", versionAsOf = Some(vOld)))
    assert(pinned.partitioning().head.arguments()(0).describe() === "2", "pinned layout")
    assert(pinned.properties().get("num_buckets") === "2")
    assert(new BucketedTable("reb_t").properties().get("num_buckets") === "8")
  }

  test("rebucket preserves the host fleet size") {
    import spark.implicits._
    BucketStore.drop("reb_hosts")
    BucketStore.load(spark, "reb_hosts",
      (1 to 100).map(i => (i.toLong, i)).toDF("k", "n"), "k", 16, nHosts = 8)
    BucketStore.rebucket("reb_hosts", 4)
    // with the fleet preserved, bucket 3 maps to host-3/host-4 under
    // nHosts=8; a hardcoded default of 4 would yield host-3/host-0
    assert(BucketStore.get("reb_hosts").hosts(3) === Seq("host-3", "host-4"))
  }

  test("batch change read (table_changes analog): full and sub-windows, stream-identical semantics") {
    spark.sql("DROP TABLE IF EXISTS graft.cdc_b")
    spark.sql("CREATE TABLE graft.cdc_b (k BIGINT, tag STRING, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.cdc_b VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    val vIns = BucketStore.currentVersion("cdc_b")
    spark.sql("DELETE FROM graft.cdc_b WHERE tag = 'b'")
    val vDel = BucketStore.currentVersion("cdc_b")
    def changes(start: Long, end: Option[Long]) = {
      val r = spark.read.format("graft-buckets").option("table", "cdc_b")
        .option("mode", "cdc").option("changesStart", start.toString)
      end.foreach(e => r.option("changesEnd", e.toString): Unit)
      r.load().collect()
        .map(x => (x.getLong(0), x.getString(1), x.getString(3), x.getLong(4))).toSet
    }
    // full window: creation inserts + the delete
    assert(changes(0, None) === Set(
      (1L, "a", "insert", vIns), (2L, "b", "insert", vIns), (3L, "c", "insert", vIns),
      (2L, "b", "delete", vDel)))
    // sub-window (vIns, vDel]: only the delete commit
    assert(changes(vIns, Some(vDel)) === Set((2L, "b", "delete", vDel)))
    // empty window: no rows, no error
    assert(changes(vDel, None) === Set.empty)
  }
}
