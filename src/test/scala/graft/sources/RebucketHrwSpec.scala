package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Round-13: RENDEZVOUS (HRW) bucket layout wired into the store
  * itself — q229 proved HRW's minimal-movement bound as an analysis;
  * these specs pin it as `BucketStore.rebucket(…, hrw = true)`
  * behavior: an HRW→HRW resize moves ONLY rows whose argmax winner
  * changed (on grow, provably only TO the new buckets — "zero illegal
  * moves"), and buckets whose membership is untouched republish their
  * arrays BY IDENTITY (the "don't rewrite these files" guarantee that
  * makes resizing a 100 TB table affordable).
  */
class RebucketHrwSpec extends SparkSuite {
  import spark.implicits._

  private def mk(name: String, nKeys: Int, buckets: Int): Unit = {
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to nKeys).map(i => (i.toLong, s"v$i")).toDF("k", "tag"), "k", buckets)
  }

  private def hrwOf(k: Long, n: Int): Int = BucketStore.hrwBucketFor(k, n).get

  test("hrwBucketFor: grow n->m moves a key iff its winner is a NEW bucket (the q229 invariant)") {
    (1L to 500L).foreach { k =>
      val w8 = hrwOf(k, 8)
      val w10 = hrwOf(k, 10)
      if (w10 < 8) assert(w10 === w8,
        s"k=$k: winner among 10 is old bucket $w10 but winner among 8 was $w8 — " +
          "argmax over a superset may only differ by picking an ADDED element")
    }
    // and the movement is real: SOME keys do land in the new buckets
    assert((1L to 500L).exists(k => hrwOf(k, 10) >= 8))
  }

  test("mod->HRW conversion is a full re-route; HRW->HRW grow is minimal-movement with identity buckets") {
    mk("hrw_t", 60, 16)
    // conversion: same count, different placement function — allowed,
    // full shuffle, every row lands at its HRW winner
    BucketStore.rebucket("hrw_t", 16, hrw = true)
    val t16 = BucketStore.get("hrw_t")
    assert(t16.hrw)
    t16.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(hrwOf(r.getLong(0), 16) === b))
    }
    val epochBefore = t16.layoutEpoch

    // predict the resize from the pure function: which of the 16 old
    // buckets keep EXACTLY their membership at n=20?
    val untouchedPred = (0 until 16).filter { b =>
      t16.buckets(b).forall(r => hrwOf(r.getLong(0), 20) === b)
    }.toSet
    assert(untouchedPred.nonEmpty, "test corpus must leave some bucket untouched")
    val movedPred = (1L to 60L).count(k => hrwOf(k, 16) !== hrwOf(k, 20))

    BucketStore.rebucket("hrw_t", 20, hrw = true)
    val t20 = BucketStore.get("hrw_t")
    assert(t20.hrw && t20.buckets.length === 20)
    assert(t20.layoutEpoch === epochBefore + 1)
    // every row at its n=20 winner; every move was TO a new bucket
    var moved = 0
    t20.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach { r =>
        val k = r.getLong(0)
        assert(hrwOf(k, 20) === b)
        if (hrwOf(k, 16) !== b) { moved += 1; assert(b >= 16, s"k=$k made an ILLEGAL move to old bucket $b") }
      }
    }
    assert(moved === movedPred)
    // identity: untouched buckets republish the SAME array object
    untouchedPred.foreach(b => assert(t20.buckets(b) eq t16.buckets(b),
      s"bucket $b membership unchanged but its array was rewritten"))
    (0 until 16).filterNot(untouchedPred).foreach(b =>
      assert(!(t20.buckets(b) eq t16.buckets(b)), s"bucket $b lost rows but kept identity"))
    // no data lost either way
    assert(t20.buckets.iterator.map(_.length).sum === 60)
    // …and the SAME pin at FILE granularity: on disk the grow's
    // manifest re-references the previous version's parquet block for
    // every untouched bucket (COW file identity — the resize that does
    // NOT rewrite the table), and wrote new files only for changed ones
    val ms = FileStore.readManifests(BucketStore.tableDir("hrw_t"))
    val (m16, m20) = (ms.find(_.version == t16.version).get, ms.find(_.version == t20.version).get)
    untouchedPred.foreach { b =>
      if (m16.buckets(b).rows > 0)
        assert(m20.buckets(b).path === m16.buckets(b).path,
          s"bucket $b membership unchanged but its FILE was rewritten")
    }
    (0 until 16).filterNot(untouchedPred).foreach(b =>
      assert(m20.buckets(b).path != m16.buckets(b).path || m16.buckets(b).rows == 0,
        s"bucket $b changed but re-referenced its old file"))
  }

  test("HRW shrink redistributes dissolved buckets' rows to their new winners, nothing lost") {
    mk("hrw_shrink", 80, 10)
    BucketStore.rebucket("hrw_shrink", 10, hrw = true)
    BucketStore.rebucket("hrw_shrink", 6, hrw = true)
    val t = BucketStore.get("hrw_shrink")
    assert(t.buckets.length === 6)
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(hrwOf(r.getLong(0), 6) === b))
    }
    assert(t.buckets.iterator.map(_.length).sum === 80)
  }

  test("CALL graft.rebucket_hrw reports untouched buckets; scans, writes, and pruning follow HRW") {
    spark.sql("DROP TABLE IF EXISTS graft.hrw_sql")
    spark.sql("CREATE TABLE graft.hrw_sql (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(16, k))")
    spark.sql("INSERT INTO graft.hrw_sql SELECT id, id * 0.5 FROM range(1, 61)")
    val conv = spark.sql("CALL graft.rebucket_hrw('hrw_sql', 16)").collect()
    assert(conv.map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((16, 16)))
    val before = BucketStore.get("hrw_sql")
    val untouchedPred = (0 until 16).count { b =>
      before.buckets(b).forall(r => hrwOf(r.getLong(0), 20) === b)
    }
    val res = spark.sql("CALL graft.rebucket_hrw('hrw_sql', 20)").collect()
    assert(res.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      === Seq((16, 20, untouchedPred)))

    // data intact through the new layout
    assert(spark.table("graft.hrw_sql").count() === 60L)
    // writes route by HRW: the new row must land in its winner bucket
    spark.sql("INSERT INTO graft.hrw_sql VALUES (1000, 9.9)")
    val t = BucketStore.get("hrw_sql")
    val owner = hrwOf(1000L, 20)
    assert(t.buckets(owner).exists(_.getLong(0) === 1000L),
      s"inserted key 1000 not in its HRW bucket $owner")
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(hrwOf(r.getLong(0), 20) === b))
    }
    // point-lookup pruning plans exactly the owning bucket
    val pruned = spark.table("graft.hrw_sql").filter(col("k") === 1000L)
    assert(pruned.rdd.getNumPartitions === 1, "HRW point lookup must prune to 1 bucket")
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(1000L))
    // an HRW table must NOT claim Spark's hash-bucket partitioning:
    // a join with a mod-bucketed twin keeps its Exchange
    spark.sql("DROP TABLE IF EXISTS graft.hrw_dim")
    spark.sql("CREATE TABLE graft.hrw_dim (k BIGINT, tag STRING) PARTITIONED BY (bucket(20, k))")
    spark.sql("INSERT INTO graft.hrw_dim SELECT id, concat('t', id) FROM range(1, 61)")
    val j = spark.table("graft.hrw_sql").hint("merge").join(spark.table("graft.hrw_dim"), "k")
    assert(j.queryExecution.executedPlan.toString.contains("Exchange"),
      "HRW layout must not be co-located with a mod-hash table")
    assert(j.count() === 60L)
  }

  test("HRW routes null keys by the same seed rule as the mod path (no null black hole)") {
    val owner = BucketStore.hrwBucketFor(null, 12)
    assert(owner.exists(b => b >= 0 && b < 12))
    // deterministic: the null owner is a pure function of the count
    assert(BucketStore.hrwBucketFor(null, 12) === owner)
    // and routeBucket agrees with the function (the single choke point)
    assert(BucketStore.routeBucket(None, org.apache.spark.sql.types.LongType, 12, null, hrw = true) === owner.get)
  }

  test("plain rebucket on an HRW table converts back to mod-hash (documented full shuffle)") {
    mk("hrw_back", 40, 8)
    BucketStore.rebucket("hrw_back", 8, hrw = true)
    BucketStore.rebucket("hrw_back", 8) // same count, layout change mod<-hrw
    val t = BucketStore.get("hrw_back")
    assert(!t.hrw)
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(BucketFunction.bucketFor(r.getLong(0), 8).contains(b)))
    }
  }

  test("HRW resize materializes pending MoR state (no stale deltas survive the layout change)") {
    spark.sql("DROP TABLE IF EXISTS graft.hrw_mor")
    spark.sql("CREATE TABLE graft.hrw_mor (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    spark.sql("INSERT INTO graft.hrw_mor SELECT id, CAST(id AS DOUBLE) FROM range(1, 41)")
    BucketStore.setDmlMode("hrw_mor", BucketStore.MergeOnRead)
    spark.sql("CALL graft.rebucket_hrw('hrw_mor', 8)")
    spark.sql("DELETE FROM graft.hrw_mor WHERE k = 7")
    spark.sql("UPDATE graft.hrw_mor SET v = -1.0 WHERE k = 9")
    assert(BucketStore.get("hrw_mor").mor.nonEmpty, "DML should leave MoR state")
    spark.sql("CALL graft.rebucket_hrw('hrw_mor', 10)")
    val t = BucketStore.get("hrw_mor")
    assert(t.mor.isEmpty, "resize must fold MoR state down")
    val rows = spark.table("graft.hrw_mor").collect()
    assert(rows.length === 39)
    assert(rows.find(_.getLong(0) == 9L).get.getDouble(1) === -1.0)
    t.buckets.zipWithIndex.foreach { case (r, b) =>
      r.foreach(row => assert(hrwOf(row.getLong(0), 10) === b))
    }
  }

  test("a copy-on-write UPDATE on an HRW table keeps every row in its HRW bucket") {
    mk("hrw_cow", 200, 8)
    BucketStore.rebucket("hrw_cow", 8, hrw = true)
    spark.sql("UPDATE graft.hrw_cow SET tag = 'u' WHERE k % 10 = 3")
    val t = BucketStore.get("hrw_cow")
    t.buckets.indices.foreach(b => t.buckets(b).foreach(r => assert(hrwOf(r.getLong(0), 8) === b)))
    // a point lookup prunes to the key's HRW bucket and finds the row
    assert(spark.sql("SELECT tag FROM graft.hrw_cow WHERE k = 13").collect().map(_.getString(0))
      .toSeq === Seq("u"))
    assert(spark.table("graft.hrw_cow").count() === 200L)
  }

  test("STRING keys: route, point-lookup prune to one bucket, and HRW-grow legally — both layouts") {
    val name = "str_key"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 400).map(i => (s"https://site-${i % 7}.example/d/$i", i.toLong))
        .toDF("url", "sz"),
      "url", 8)
    def scan = spark.read.format("graft-buckets").option("table", name).load()
    // mod layout: the string point lookup prunes to the ONE owning bucket
    val probe = "https://site-3.example/d/241"
    val q1 = scan.filter(col("url") === probe)
    assert(q1.rdd.getNumPartitions === 1,
      s"string key equality must prune to 1 bucket, planned ${q1.rdd.getNumPartitions}")
    assert(q1.collect().map(_.getLong(1)).toSeq === Seq(241L))
    // every stored row sits at pmod(murmur3_utf8(url), 8) — the writer
    // and the pruner share ONE hash domain
    val t8 = BucketStore.get(name)
    t8.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r =>
        assert(BucketFunction.bucketFor(r.getString(0), 8) === Some(b)))
    }
    // HRW conversion + grow: same UTF-8 domain, argmax placement,
    // zero illegal moves on the grow
    spark.sql(s"CALL graft.rebucket_hrw('$name', 8)")
    val h8 = BucketStore.get(name)
    h8.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(BucketStore.hrwBucketFor(r.getString(0), 8) === Some(b)))
    }
    spark.sql(s"CALL graft.rebucket_hrw('$name', 10)")
    val h10 = BucketStore.get(name)
    var moved = 0
    h10.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach { r =>
        val k = r.getString(0)
        assert(BucketStore.hrwBucketFor(k, 10) === Some(b))
        if (BucketStore.hrwBucketFor(k, 8).get != b) {
          moved += 1
          assert(b >= 8, s"url=$k made an ILLEGAL move to old bucket $b")
        }
      }
    }
    assert(moved > 0, "a grow over 400 urls must move something")
    assert(h10.buckets.iterator.map(_.length).sum === 400)
    // the point lookup still prunes to one bucket under HRW
    val q2 = scan.filter(col("url") === probe)
    assert(q2.rdd.getNumPartitions === 1)
    assert(q2.collect().map(_.getLong(1)).toSeq === Seq(241L))
    // DML through the HRW writer on a string key
    spark.sql(s"DELETE FROM graft.`$name` WHERE url = '$probe'")
    assert(scan.count() === 399L)
  }

  test("DATE keys route by their epoch day through both placement functions") {
    val d = java.sql.Date.valueOf("2024-03-15")
    val mod = BucketFunction.bucketFor(d, 8)
    val hrw = BucketStore.hrwBucketFor(d, 8)
    assert(mod.isDefined && hrw.isDefined)
    // bucketFor(date) == bucketFor(its epoch-day Int): one hash domain
    val days = org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
    assert(mod === BucketFunction.bucketFor(days, 8))
    // unroutable types still decline (the pruner must not guess)
    assert(BucketFunction.bucketFor(BigDecimal(1.5), 8).isEmpty)
    assert(BucketStore.hrwBucketFor(Array[Byte](1), 8).isEmpty)
  }
}
