package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Exactly-once across query RESTART for the stream-store paths the
  * gated queries run continuously: the q92-shaped stream+broadcast-dim
  * join and the q101-shaped ETL into a store sink.
  *
  * The source is a SNAPSHOT FEED ([[bucketed.BucketMicroBatchStream]]):
  * offset = store version, each micro-batch (start, end] delivers the
  * FULL snapshot at `end`. "Exactly once" therefore means each VERSION
  * is delivered exactly once across restarts — a version processed
  * before the stop is never re-delivered after it (offset resume), and
  * a version committed while the query is DOWN arrives in exactly one
  * batch. For set semantics across refreshes, consumers key a
  * latest-wins sink — the third test drives that full configuration
  * through undrained kills and pins byte-identical convergent state.
  *
  * Sink-side scope (mirrors the [[bucketed.BucketedStreamingWrite]]
  * doc): the append store sink dedupes epoch retries within a write
  * instance and relies on the checkpoint for cross-restart replay, so
  * the undrained-kill test runs against the idempotent UPSERT sink —
  * the configuration a pipeline that fears mid-epoch kills deploys —
  * while the append tests exercise the clean stop/restart every deploy
  * does.
  */
class BucketedStreamRecoverySpec extends SparkSuite {
  import spark.implicits._

  private val dimRows = (0 until 4).map(i => (i.toLong, s"seg$i"))

  private def loadPair(src: String, dim: String, rows: Seq[(Long, Long, String)]): Unit = {
    BucketStore.drop(src)
    BucketStore.drop(dim)
    BucketStore.load(spark, src, rows.toDF("event_id", "user_id", "tag"), "user_id", 4)
    BucketStore.load(spark, dim, dimRows.toDF("c_custkey", "c_mktsegment"), "c_custkey", 4)
  }

  private val b1 = (0 until 40).map(i => (i.toLong, (i % 4).toLong, s"t$i"))
  private val b2 = (40 until 56).map(i => (i.toLong, (i % 4).toLong, s"t$i"))
  private def enriched(r: (Long, Long, String)) = (r._1, r._2, s"seg${r._2}")

  test("q92 shape: each source version is delivered exactly once across a restart") {
    loadPair("rs_events", "rs_dim", b1)
    val ckpt = Files.createTempDirectory("graft_rs_ckpt").toString
    val outDir = Files.createTempDirectory("graft_rs_out").toString
    def startQuery() = {
      val dim = spark.read.format("graft-buckets").option("table", "rs_dim").load()
      spark.readStream.format("graft-buckets").option("table", "rs_events").load()
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // version 2 commits while the query is DOWN
    b2.toDF("event_id", "user_id", "tag").writeTo("graft.rs_events").append()
    // interrupted run: stop without draining — whether or not it got to
    // version 2, the total delivered must not change (the file sink's
    // batch log absorbs a half-finished batch; the offset log ensures
    // the follow-up run neither skips nor re-delivers a version)
    startQuery().stop()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .select("event_id", "user_id", "c_mktsegment").as[(Long, Long, String)]
      .collect().sorted.toSeq
    // snapshot feed: batch 1 = snapshot v1 (b1), batch 2 = snapshot v2
    // (b1 ++ b2). A replayed v1 batch would triple b1; a lost v2 would
    // drop b2. Exactly-once per version = this exact multiset.
    val expect = (b1.map(enriched) ++ (b1 ++ b2).map(enriched)).sorted
    assert(got === expect,
      s"each version must land exactly once (got ${got.size} rows, expect ${expect.size})")
  }

  test("q101 shape: ETL into a store sink resumes without re-emitting processed versions") {
    loadPair("rs2_src", "rs2_dim", b1)
    spark.sql("DROP TABLE IF EXISTS graft.rs2_sink")
    spark.sql("CREATE TABLE graft.rs2_sink " +
      "(event_id BIGINT, user_id BIGINT, c_mktsegment STRING) " +
      "PARTITIONED BY (bucket(4, user_id))")
    val ckpt = Files.createTempDirectory("graft_rs2_ckpt").toString
    def startQuery() = {
      val dim = spark.read.format("graft-buckets").option("table", "rs2_dim").load()
      spark.readStream.format("graft-buckets").option("table", "rs2_src").load()
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .toTable("graft.rs2_sink")
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("graft.rs2_sink").count() === b1.size.toLong)
    b2.toDF("event_id", "user_id", "tag").writeTo("graft.rs2_src").append()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table("graft.rs2_sink")
      .select("event_id", "user_id", "c_mktsegment").as[(Long, Long, String)]
      .collect().sorted.toSeq
    // run 2 must emit exactly one batch: snapshot v2. A replay of run
    // 1's epoch would add a third copy of b1.
    val expect = (b1.map(enriched) ++ (b1 ++ b2).map(enriched)).sorted
    assert(got === expect,
      "the restarted query must emit only the version committed while it was down")
  }

  test("undrained kills + keyed upsert sink: state converges byte-identical (set semantics)") {
    loadPair("rs3_src", "rs3_dim", b1)
    spark.sql("DROP TABLE IF EXISTS graft.rs3_sink")
    spark.sql("CREATE TABLE graft.rs3_sink " +
      "(event_id BIGINT, user_id BIGINT, c_mktsegment STRING) " +
      "PARTITIONED BY (bucket(4, event_id))")
    val ckpt = Files.createTempDirectory("graft_rs3_ckpt").toString
    def startQuery() = {
      val dim = spark.read.format("graft-buckets").option("table", "rs3_dim").load()
      spark.readStream.format("graft-buckets").option("table", "rs3_src").load()
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .writeStream.outputMode("update")
        .option("upsert", "true")
        .option("checkpointLocation", ckpt)
        .toTable("graft.rs3_sink")
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    b2.toDF("event_id", "user_id", "tag").writeTo("graft.rs3_src").append()
    // kill twice without draining: wherever the kills land relative to
    // epoch boundaries, a replayed epoch upserts the same keys with
    // the same rows — the idempotence that makes mid-epoch kills safe
    startQuery().stop()
    startQuery().stop()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table("graft.rs3_sink")
      .select("event_id", "user_id", "c_mktsegment").as[(Long, Long, String)]
      .collect().sorted.toSeq
    val expect = (b1 ++ b2).map(enriched).sorted
    assert(got === expect, "keyed upsert state must equal the batch expectation exactly once")
  }

  test("CDC changefeed resumes from its checkpoint against a REOPENED table: no gap, no duplicate") {
    val name = "rs_cdc_boot"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 32).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), "k", 4)
    spark.sql(s"DELETE FROM graft.`$name` WHERE k % 8 = 0") // commit 2: 4 deletes
    val ckpt = Files.createTempDirectory("graft_rs_cdc_ckpt").toString
    val outDir = Files.createTempDirectory("graft_rs_cdc_out").toString
    def startQuery() =
      spark.readStream.format("graft-buckets")
        .option("table", name).option("mode", "cdc").load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // run 1 delivered the initial load + the delete commit
    assert(spark.read.parquet(outDir).count() === 32L + 4L)

    // changes land while the consumer is down…
    spark.sql(s"UPDATE graft.`$name` SET v = v + 100 WHERE k = 3")
    // …and the PROCESS restarts: heap state gone, reopen from disk —
    // the checkpointed offset must resolve against the RESTORED
    // version history (firstVersion/retained continuity), not skew
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    // a further commit on the reopened table
    spark.sql(s"DELETE FROM graft.`$name` WHERE k = 5")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val events = spark.read.parquet(outDir)
    // no duplicate: every (row, change, version) event is delivered once
    val dups = events.groupBy(col("k"), col("v"), col(CdcSchema.ChangeType),
      col(CdcSchema.CommitVersion)).count().filter(col("count") > 1).count()
    assert(dups === 0L, "a resumed changefeed must never re-deliver an event")
    // no gap: folding every event reproduces the reopened table exactly
    val isAdd = col(CdcSchema.ChangeType).isin(CdcSchema.Adds: _*)
    val foldedState = events
      .groupBy(col("k"), col("v"))
      .agg(sum(when(isAdd, 1L).otherwise(-1L)).as("n"))
      .filter(col("n") > 0)
    assert(foldedState.filter(col("n") =!= 1L).count() === 0L,
      "fold must converge to multiplicity one per live row")
    val live = foldedState.select(col("k"), col("v")).as[(Long, Double)].collect().toSet
    val want = spark.table(s"graft.`$name`").as[(Long, Double)].collect().toSet
    assert(live === want,
      "folding the resumed feed must reproduce the reopened table exactly (no gap)")
  }

  test("CDC changefeed follows a FOREIGN writer's commit under refresh_policy (round 17)") {
    val name = "rs_cdc_foreign"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 32).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), "k", 4)
    BucketStore.clearRefreshPolicy(name)
    val ckpt = Files.createTempDirectory("graft_rs_cdcf_ckpt").toString
    val outDir = Files.createTempDirectory("graft_rs_cdcf_out").toString
    def startQuery() =
      spark.readStream.format("graft-buckets")
        .option("table", name).option("mode", "cdc").load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(outDir).count() === 32L)

    // a FOREIGN writer's commit: produced by the engine (real DELETE),
    // withheld while this process's view rewinds, then landed on disk —
    // the heap head stays stale, exactly a second process committing
    val v0 = BucketStore.currentVersion(name)
    spark.sql(s"DELETE FROM graft.`$name` WHERE k = 5")
    val v1 = BucketStore.currentVersion(name)
    val tdir0 = BucketStore.tableDir(name)
    val m1 = tdir0.resolve(s"manifest-v$v1.json")
    val bytes1 = Files.readAllBytes(m1)
    Files.delete(m1)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    assert(BucketStore.currentVersion(name) === v0)
    Files.write(m1, bytes1): Unit

    // WITHOUT a policy the resumed feed is snapshot-isolated: it sits
    // at the stale head and delivers nothing
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(outDir).count() === 32L,
      "a reader process must not absorb foreign commits unasked")

    // WITH the policy, offset discovery absorbs the foreign commit and
    // the feed advances across it
    BucketStore.setRefreshPolicy(name, 0L)
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    BucketStore.clearRefreshPolicy(name)
    val events = spark.read.parquet(outDir)
    assert(events.count() === 33L, "the foreign delete must be delivered exactly once")
    val del = events.filter(col(CdcSchema.ChangeType) === CdcSchema.Delete).collect()
    assert(del.length === 1 && del.head.getLong(0) === 5L)
    assert(del.head.getLong(events.schema.fieldIndex(CdcSchema.CommitVersion)) === v1)
    // fold reproduces the (foreign-committed) table exactly
    val isAdd = col(CdcSchema.ChangeType).isin(CdcSchema.Adds: _*)
    val live = events.groupBy(col("k"), col("v"))
      .agg(sum(when(isAdd, 1L).otherwise(-1L)).as("n"))
      .filter(col("n") > 0).select(col("k"), col("v"))
      .as[(Long, Double)].collect().toSet
    assert(live === spark.table(s"graft.`$name`").as[(Long, Double)].collect().toSet)
    BucketStore.drop(name)
  }

  test("a BATCH changes-read follows a foreign writer under refresh_policy") {
    val name = "rs_cdc_batchf"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 16).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), "k", 2)
    BucketStore.clearRefreshPolicy(name)
    val v0 = BucketStore.currentVersion(name)
    // foreign commit: engine-produced, withheld across a rewind, landed
    spark.sql(s"DELETE FROM graft.`$name` WHERE k = 3")
    val v1 = BucketStore.currentVersion(name)
    val m = BucketStore.tableDir(name).resolve(s"manifest-v$v1.json")
    val bytes = Files.readAllBytes(m)
    Files.delete(m)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    Files.write(m, bytes): Unit
    def changes() = spark.read.format("graft-buckets").option("table", name)
      .option("mode", "cdc").option("changesstart", v0.toString).load().collect()
    // stale by default (snapshot isolation)...
    assert(changes().isEmpty)
    // ...following under the policy, with no explicit CALL
    BucketStore.setRefreshPolicy(name, 0L)
    val got = changes()
    BucketStore.clearRefreshPolicy(name)
    assert(got.length === 1 && got.head.getLong(0) === 3L,
      "the batch changes-read must absorb the foreign commit at plan time")
    BucketStore.drop(name)
  }

  test("HRW sink: undrained kills + upsert into a RENDEZVOUS table recover; rows at argmax owners") {
    loadPair("rs4_src", "rs4_dim", b1)
    spark.sql("DROP TABLE IF EXISTS graft.rs4_sink")
    spark.sql("CREATE TABLE graft.rs4_sink " +
      "(event_id BIGINT, user_id BIGINT, c_mktsegment STRING) " +
      "PARTITIONED BY (bucket(4, event_id))")
    // rendezvous layout BEFORE the stream: the streaming writer must
    // route every upsert key by argmax (routeBucket is the one choke
    // point under the streaming path too)
    spark.sql("CALL graft.rebucket_hrw('rs4_sink', 4)")
    val ckpt = Files.createTempDirectory("graft_rs4_ckpt").toString
    def startQuery() = {
      val dim = spark.read.format("graft-buckets").option("table", "rs4_dim").load()
      spark.readStream.format("graft-buckets").option("table", "rs4_src").load()
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .writeStream.outputMode("update")
        .option("upsert", "true")
        .option("checkpointLocation", ckpt)
        .toTable("graft.rs4_sink")
    }
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    b2.toDF("event_id", "user_id", "tag").writeTo("graft.rs4_src").append()
    startQuery().stop() // undrained kill
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.table("graft.rs4_sink")
      .select("event_id", "user_id", "c_mktsegment").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(got === (b1 ++ b2).map(enriched).sorted,
      "HRW upsert state must equal the batch expectation exactly once")
    // physical pin: the layout survived the stream and every stored
    // row sits at its HRW winner
    val t = BucketStore.get("rs4_sink")
    assert(t.hrw, "the sink must still be a rendezvous table after streaming commits")
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r =>
        assert(BucketStore.hrwBucketFor(r.getLong(0), 4) === Some(b),
          s"event ${r.getLong(0)} landed in bucket $b, not its argmax owner"))
    }
  }
}
