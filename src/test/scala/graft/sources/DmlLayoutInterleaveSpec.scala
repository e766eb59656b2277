package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Adversarial DML × layout interleavings (round 11): merge-on-read,
  * z-order, replication, and rebucket each have their own specs; these
  * pin their PAIRWISE interactions — the combinations a production
  * table actually hits — either working end-to-end or refusing
  * loudly. Nothing here may fail silently.
  */
class DmlLayoutInterleaveSpec extends SparkSuite {
  import spark.implicits._

  test("MERGE INTO a z-ordered merge-on-read table: answers exact, Morton order survives the fold") {
    BucketStore.drop("zmor")
    val base = (0 until 256).map(i => (i.toLong, (i * 37 % 512).toLong, (i * 91 % 512).toLong, 1.0))
    BucketStore.load(spark, "zmor", base.toDF("k", "x", "y", "v"), "k", 2,
      clusterBy = Some("zorder(x,y)"))
    BucketStore.setDmlMode("zmor", BucketStore.MergeOnRead)
    Seq((5L, 7.0), (6L, 8.0), (300L, 9.0), (301L, 10.0))
      .toDF("k", "nv").createOrReplaceTempView("zmor_src")
    spark.sql(
      """MERGE INTO graft.zmor t USING zmor_src s ON t.k = s.k
        |WHEN MATCHED AND s.nv > 7.5 THEN UPDATE SET v = s.nv
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (k, x, y, v) VALUES (s.k, s.k % 512, s.k % 512, s.nv)
        |""".stripMargin)
    // answers: k=5 deleted, k=6 updated, 300/301 inserted
    val got = spark.table("graft.zmor").select("k", "v").as[(Long, Double)].collect().toMap
    assert(!got.contains(5L))
    assert(got(6L) === 8.0)
    assert(got(300L) === 9.0 && got(301L) === 10.0)
    assert(got.size === base.size - 1 + 2)
    // the MoR state is genuine (delta, not a rewrite) ...
    val t = BucketStore.get("zmor")
    assert(t.mor.nonEmpty, "merge-on-read MERGE must commit a delta, not rewrite buckets")
    // ... and the read-time fold merges the delta under the SAME
    // rank-normalized comparator: every effective bucket is
    // Morton-sorted (zone maps on a mis-sorted bucket would be loose,
    // never wrong — but the layout invariant is what we pin)
    val zk = BucketStore.zKeyOf(t)
    t.buckets.indices.foreach { b =>
      val rows = BucketStore.effectiveRows(t, b)
      rows.sliding(2).foreach {
        case Array(a, c) =>
          assert(ZOrder.cmp(zk(a), zk(c)) <= 0, s"bucket $b lost Morton order after MoR MERGE")
        case _ => ()
      }
    }
    // compact folds the delta and preserves both answers and order
    spark.sql("CALL graft.compact('zmor')").collect()
    val t2 = BucketStore.get("zmor")
    assert(t2.mor.isEmpty)
    assert(spark.table("graft.zmor").select("k", "v").as[(Long, Double)].collect().toMap === got)
  }

  test("z-table whose FIRST rows arrive as MoR delta inserts freezes bounds then keeps order") {
    // the advice-4 path: CREATE TABLE commits no rows (zBounds = None);
    // a pure row-level MERGE then delivers the first rows as a DELTA.
    // applyDelta must freeze rank boundaries right there — otherwise a
    // later bulk commit freezes different ones and clusterMerge merges
    // runs sorted under two different comparators.
    spark.sql("DROP TABLE IF EXISTS graft.zfirst")
    spark.sql("CREATE TABLE graft.zfirst (k BIGINT, x BIGINT, y BIGINT) " +
      "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('cluster_by' = 'zorder(x,y)')")
    BucketStore.setDmlMode("zfirst", BucketStore.MergeOnRead)
    (0 until 64).map(i => (i.toLong, (i * 37 % 256).toLong, (i * 91 % 256).toLong))
      .toDF("k", "x", "y").createOrReplaceTempView("zfirst_src")
    spark.sql(
      """MERGE INTO graft.zfirst t USING zfirst_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET x = s.x
        |WHEN NOT MATCHED THEN INSERT (k, x, y) VALUES (s.k, s.x, s.y)
        |""".stripMargin)
    val t = BucketStore.get("zfirst")
    if (t.mor.nonEmpty) {
      // rows arrived through applyDelta: bounds must be frozen NOW
      assert(t.zBounds.isDefined,
        "delta-first z-table must freeze rank boundaries at the delta commit")
    }
    // a later bulk append merges under the same comparator
    (64 until 128).map(i => (i.toLong, (i * 37 % 256).toLong, (i * 91 % 256).toLong))
      .toDF("k", "x", "y").writeTo("graft.zfirst").append()
    val t2 = BucketStore.get("zfirst")
    assert(t2.zBounds.isDefined)
    val zk = BucketStore.zKeyOf(t2)
    t2.buckets.indices.foreach { b =>
      BucketStore.effectiveRows(t2, b).sliding(2).foreach {
        case Array(a, c) =>
          assert(ZOrder.cmp(zk(a), zk(c)) <= 0,
            s"bucket $b not Morton-sorted after delta-first + bulk append")
        case _ => ()
      }
    }
    assert(spark.table("graft.zfirst").count() === 128L)
  }

  test("rebucket during an OPEN CDC stream: the running query fails loudly, never emits garbage") {
    BucketStore.drop("cdc_live")
    BucketStore.load(spark, "cdc_live",
      (1 to 16).map(i => (i.toLong, s"t$i")).toDF("k", "tag"), "k", 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdclive_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_cdclive_out").toString
    val q = spark.readStream.format("graft-buckets")
      .option("table", "cdc_live").option("mode", "cdc").load()
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val rowsBefore = spark.read.parquet(outDir).count()
      assert(rowsBefore > 0, "the CDC stream must deliver the initial inserts")
      // the layout changes UNDER the open reader
      spark.sql("CALL graft.rebucket('cdc_live', 8)").collect()
      (17 to 24).map(i => (i.toLong, s"t$i")).toDF("k", "tag").writeTo("graft.cdc_live").append()
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("re-bucketing") || msg.contains("rebucket") || msg.contains("layout"),
        s"the failure must name the layout change, got: $msg")
      // nothing from the refused window leaked into the sink
      assert(spark.read.parquet(outDir).count() === rowsBefore,
        "a refused CDC window must emit nothing")
    } finally q.stop()
  }

  test("DML on a replicated table: row-level ops work and replication properties survive") {
    BucketStore.drop("repl_dml")
    BucketStore.load(spark, "repl_dml",
      (1 to 32).map(i => (i.toLong, s"seg${i % 4}", i * 1.0)).toDF("k", "seg", "v"),
      "k", numBuckets = 1, replicate = true)
    val fleet = BucketStore.get("repl_dml").hosts.head
    spark.sql("DELETE FROM graft.repl_dml WHERE seg = 'seg0'")
    spark.sql("UPDATE graft.repl_dml SET v = v + 100 WHERE seg = 'seg1'")
    val got = spark.table("graft.repl_dml").select("k", "v").as[(Long, Double)].collect().toMap
    assert(!got.keys.exists(_ % 4 == 0), "seg0 rows must be deleted")
    (1 to 32).filter(_ % 4 == 1).foreach(i => assert(got(i.toLong) === i + 100.0))
    (1 to 32).filter(i => i % 4 == 2 || i % 4 == 3)
      .foreach(i => assert(got(i.toLong) === i * 1.0))
    // the post-DML snapshot is still replicated: one bucket, fleet-wide
    // placement, single-split scan
    val t = BucketStore.get("repl_dml")
    assert(t.replicated, "DML must not strip the replicated flag")
    assert(t.buckets.length === 1)
    assert(t.hosts.head === fleet, "DML must not shrink the replica fleet")
    val parts = spark.read.format("graft-buckets").option("table", "repl_dml").load()
      .rdd.getNumPartitions
    assert(parts === 1, s"replicated scan must stay ONE split after DML, got $parts")
  }
}
