package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.{BucketSkip, BucketStore, ConnectionPool, SampleSpec}

/** Per-bucket data skipping ([[graft.sources.bucketed.BucketSkip]]):
  * membership sketches prune non-key point lookups, zone maps prune
  * out-of-range and null-free predicates, and the statistics ride the
  * COW bucket arrays across versions and schema evolution.
  */
class BucketSkipSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  test("membership sketch: non-key point lookup opens ~1 reader instead of the fleet") {
    val df = (1 to 4000).map(i => (i.toLong, s"name-$i", i % 5)).toDF("k", "name", "grp")
    BucketStore.drop("skip_pt")
    BucketStore.load(spark, "skip_pt", df, "k", 8)
    val q = scan("skip_pt").filter(col("name") === "name-1234")
    ConnectionPool.reset()
    val rows = q.collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq === Seq(1234L))
    val (created, reused) = ConnectionPool.stats
    assert(created + reused <= 2,
      s"the sketch should admit ~1 bucket for a unique name, opened ${created + reused}")
    // the plan itself shrank — not just lazy readers
    assert(q.rdd.getNumPartitions <= 2,
      s"expected <=2 planned buckets of 8, got ${q.rdd.getNumPartitions}")
    // a low-cardinality column lives in every bucket: NO skip, full plan
    val all = scan("skip_pt").filter(col("grp") === 3)
    assert(all.rdd.getNumPartitions === 8)
    assert(all.count() === 800L)
  }

  test("stats-only aggregate: unfiltered count/min/max open no bucket and move no connection") {
    import graft.sources.bucketed.BucketedAggPartitionReader
    val df = (1 to 3000).map(i =>
      (i.toLong, i * 1.5, if (i % 10 == 0) null else java.lang.Double.valueOf(i * 2.0)))
      .toDF("k", "price", "opt")
    BucketStore.drop("skip_agg")
    BucketStore.load(spark, "skip_agg", df, "k", 8)
    spark.sql("CALL graft.analyze('skip_agg', 'k,price,opt')")
    val dir = BucketStore.unload("skip_agg").get
    BucketStore.openFromDisk("skip_agg", dir)
    ConnectionPool.reset()
    val before = BucketedAggPartitionReader.statsServedCount.get()
    val r = spark.sql(
      "SELECT count(*), count(opt), min(price), max(price), min(k), max(opt) " +
        "FROM graft.`skip_agg`").head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
      r.getDouble(5)) === ((3000L, 2700L, 1.5, 4500.0, 1L, 5998.0)))
    assert(BucketedAggPartitionReader.statsServedCount.get() - before === 8L,
      "every bucket's partial must come from statistics")
    assert(BucketStore.get("skip_agg").buckets.loadedCount === 0,
      "no block may load for a stats-only aggregate")
    val (created, reused) = ConnectionPool.stats
    assert(created + reused === 0, "no connection may open for a stats-only aggregate")
    // a FILTERED aggregate must fall back to rows — and still be exact
    val before2 = BucketedAggPartitionReader.statsServedCount.get()
    val f = spark.sql("SELECT count(*), max(price) FROM graft.`skip_agg` WHERE k <= 100").head
    assert((f.getLong(0), f.getDouble(1)) === ((100L, 150.0)))
    assert(BucketedAggPartitionReader.statsServedCount.get() === before2,
      "a filtered aggregate must not take the stats path")
    // pending MoR state hides rows the VALUE stats still carry: a
    // min/max falls back...
    BucketStore.setDmlMode("skip_agg", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.`skip_agg` WHERE k = 1")
    val m = spark.sql("SELECT count(*), min(k) FROM graft.`skip_agg`").head
    assert((m.getLong(0), m.getLong(1)) === ((2999L, 2L)),
      "MoR-hidden rows must not leak through the stats path")
    // ...but a PURE count(*) stays stats-served: the live count is
    // manifest arithmetic (base + delta − deleted), exact under MoR
    BucketStore.evictTable("skip_agg")
    val ss1 = BucketedAggPartitionReader.statsServedCount.get()
    assert(spark.sql("SELECT count(*) FROM graft.`skip_agg`").head.getLong(0) === 2999L)
    assert(BucketedAggPartitionReader.statsServedCount.get() > ss1,
      "count(*) over a MoR table must be stats-served")
    assert(BucketStore.get("skip_agg").buckets.loadedCount === 0,
      "the MoR count(*) must open no block")
  }

  test("q254 gate self-audit holds at sf0.001 (stats-only aggregate end-to-end)") {
    val df = graft.sources.bucketed.BucketedQueries.statsOnlyAggQuery(spark, sf)
    assert(df.count() === 1L)
  }

  test("cold SUM/group-by aggregate: projected streaming read — no dial, no heap fault (round 16)") {
    import graft.sources.bucketed.{BucketedAggPartitionReader, FileStore}
    val df = (1 to 3000).map(i =>
      (i.toLong, s"pad-$i-${"y" * 30}", i % 7, i * 1.5)).toDF("k", "pad", "grp", "price")
    BucketStore.drop("skip_coldsum")
    BucketStore.load(spark, "skip_coldsum", df, "k", 8)
    val want = spark.sql(
      "SELECT grp, count(*) AS n, sum(price) AS s FROM graft.`skip_coldsum` GROUP BY grp")
      .as[(Int, Long, Double)].collect().toSet
    val dir = BucketStore.unload("skip_coldsum").get
    BucketStore.openFromDisk("skip_coldsum", dir)
    ConnectionPool.reset()
    val (pr0, ss0) = (FileStore.projectedReads.get(),
      BucketedAggPartitionReader.statsServedCount.get())
    val got = spark.sql(
      "SELECT grp, count(*) AS n, sum(price) AS s FROM graft.`skip_coldsum` GROUP BY grp")
      .as[(Int, Long, Double)].collect().toSet
    assert(got === want, "the projected cold path must fold to identical partials")
    assert(FileStore.projectedReads.get() - pr0 === 8L,
      "every cold bucket must stream its aggregate columns projected")
    assert(BucketedAggPartitionReader.statsServedCount.get() === ss0,
      "a grouped SUM cannot be stats-served — this is the projected path")
    assert(BucketStore.get("skip_coldsum").buckets.loadedCount === 0,
      "a cold aggregate must not fault blocks into the heap cache")
    val (created, reused) = ConnectionPool.stats
    assert(created + reused === 0, "the projected path must not dial a connection")
    // a FILTERED aggregate (round 17) ALSO takes the projected path:
    // the filter's column joins the projection and evaluates in-reader
    // against the pruned schema — still no dial, still no heap fault.
    // Analyze first so plan-time zone maps come from the manifest (the
    // stat build loads blocks; evict to get back to a cold table)
    BucketStore.registerStatColumns("skip_coldsum", Seq("k"))
    BucketStore.refreshManifestStats("skip_coldsum")
    BucketStore.evictTable("skip_coldsum")
    val pr1 = FileStore.projectedReads.get()
    val f = spark.sql(
      "SELECT count(*), sum(price) FROM graft.`skip_coldsum` WHERE k <= 100").head
    assert((f.getLong(0), f.getDouble(1)) === ((100L, (1 to 100).map(_ * 1.5).sum)))
    assert(FileStore.projectedReads.get() > pr1,
      "a filtered cold aggregate must take the projected path")
    assert(BucketStore.get("skip_coldsum").buckets.loadedCount === 0,
      "the filtered projected path must not fault blocks into the heap cache")
    val (createdF, reusedF) = ConnectionPool.stats
    assert(createdF + reusedF === 0, "the filtered projected path must not dial a connection")
    // hot blocks also keep the connection path (heap beats a re-read):
    // warm every bucket through the row stream first
    assert(graft.sources.bucketed.ScanReference.loadingScan(spark, "skip_coldsum")
      .collect().length === 3000)
    val pr2 = FileStore.projectedReads.get()
    assert(spark.sql("SELECT sum(price) FROM graft.`skip_coldsum`").head.getDouble(0)
      === (1 to 3000).map(_ * 1.5).sum)
    assert(FileStore.projectedReads.get() === pr2,
      "hot buckets must aggregate from heap, not re-read the file")
    BucketStore.drop("skip_coldsum")
  }

  test("MoR buckets fold INLINE on the cold projected aggregate path (round 17)") {
    import graft.sources.bucketed.FileStore
    val df = (1 to 2000).map(i => (i.toLong, s"pad-$i-${"z" * 20}", i % 5, i * 2.0))
      .toDF("k", "pad", "grp", "price")
    BucketStore.drop("skip_mor_agg")
    BucketStore.load(spark, "skip_mor_agg", df, "k", 4)
    BucketStore.setDmlMode("skip_mor_agg", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.`skip_mor_agg` WHERE k % 10 = 0")
    spark.sql("UPDATE graft.`skip_mor_agg` SET price = price + 100000 WHERE k % 10 = 1")
    // a second update of already-updated rows: their first delta
    // entries get DELETED (bitmap bits past baseLen) — the projected
    // fold must honor delta-position deletes too
    spark.sql("UPDATE graft.`skip_mor_agg` SET price = price + 100000 WHERE k % 10 = 1")
    def agg(whereK: String) = spark.sql(
      s"SELECT grp, count(*) AS n, sum(price) AS s FROM graft.`skip_mor_agg` $whereK " +
        "GROUP BY grp").as[(Int, Long, Double)].collect().toSet
    val wantAll = agg("")
    val wantF = agg("WHERE k > 100")
    // cold: evict base blocks (MoR deltas live in the snapshot, not in
    // blocks — exactly the write-heavy cold table at 100 TB)
    BucketStore.evictTable("skip_mor_agg")
    assert(BucketStore.get("skip_mor_agg").buckets.loadedCount === 0)
    ConnectionPool.reset()
    val pr0 = FileStore.projectedReads.get()
    assert(agg("") === wantAll, "the cold MoR fold must aggregate identically")
    assert(FileStore.projectedReads.get() > pr0,
      "a MoR bucket must take the projected path, not the connection")
    assert(BucketStore.get("skip_mor_agg").buckets.loadedCount === 0,
      "the MoR projected fold must not fault base blocks into heap")
    BucketStore.evictTable("skip_mor_agg")
    assert(agg("WHERE k > 100") === wantF,
      "the FILTERED cold MoR aggregate must match the hot path")
    assert(BucketStore.get("skip_mor_agg").buckets.loadedCount === 0)
    val (created, reused) = ConnectionPool.stats
    assert(created + reused === 0, "the MoR projected path must not dial a connection")
    BucketStore.drop("skip_mor_agg")
  }

  test("zone maps: out-of-range, null-free, and impossible-IN predicates plan zero buckets") {
    val df = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "price")
    BucketStore.drop("skip_zone")
    BucketStore.load(spark, "skip_zone", df, "k", 8)
    val over = scan("skip_zone").filter(col("price") > 1.0e9)
    assert(over.rdd.getNumPartitions === 0, "max < literal must prune every bucket")
    assert(over.count() === 0L)
    val nulls = scan("skip_zone").filter(col("price").isNull)
    assert(nulls.rdd.getNumPartitions === 0, "a null-free column refutes IsNull")
    val in = scan("skip_zone").filter(col("k").isin(-5L, -6L))
    assert(in.count() === 0L)
    // in-range predicates still answer exactly
    assert(scan("skip_zone").filter(col("price") <= 10.0).count() === 5L)
  }

  test("COW maintenance: a rewritten bucket recomputes its sketch, the lookup follows the value") {
    val df = (1 to 2000).map(i => (i.toLong, s"name-$i")).toDF("k", "name")
    BucketStore.drop("skip_cow")
    BucketStore.load(spark, "skip_cow", df, "k", 8)
    assert(scan("skip_cow").filter(col("name") === "name-77").count() === 1L)
    spark.sql("UPDATE graft.`skip_cow` SET name = 'renamed-77' WHERE k = 77")
    // the rewritten bucket's NEW array builds fresh statistics: the
    // new value is found, the old one provably gone (0 planned buckets
    // would also be acceptable; the contract is the ANSWER)
    val renamed = scan("skip_cow").filter(col("name") === "renamed-77").collect()
    assert(renamed.map(_.getAs[Long]("k")).toSeq === Seq(77L))
    assert(scan("skip_cow").filter(col("name") === "name-77").count() === 0L)
  }

  test("pushed TABLESAMPLE: Sample node removed, deterministic window, guarded compositions") {
    val df = (1 to 2000).map(i => (i.toLong, i % 7)).toDF("k", "grp")
    BucketStore.drop("samp_t")
    BucketStore.load(spark, "samp_t", df, "k", 8)
    val q = scan("samp_t").sample(0.25)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushedSample=[0.0,0.25)"), plan.take(1200))
    assert(!plan.contains("Sample ("), "the Sample operator must be subsumed by the scan")
    // row-exact: the readers apply the same Lehmer window the spec computes
    val expected = (1L to 2000L).count(SampleSpec(0.0, 0.25).keep(_))
    assert(q.count().toInt === expected)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      scan("samp_t").sample(0.25).collect().map(_.getLong(0)).sorted.toSeq)
    // negative keys hash negative (sign-following %, matching SQL) and
    // fall outside every [0, f) window — exactly like the SQL replica
    val neg = (-50 to 50).map(i => (i.toLong, 0)).toDF("k", "grp")
    BucketStore.drop("samp_neg")
    BucketStore.load(spark, "samp_neg", neg, "k", 4)
    val negKept = scan("samp_neg").sample(0.5).collect().map(_.getLong(0))
    assert(negKept.forall(_ >= 0L), s"negative keys must not sample: ${negKept.mkString(",")}")
    assert(negKept.sorted.toSeq === (0L to 50L).filter(SampleSpec(0.0, 0.5).keep(_)).toSeq,
      "the kept set must be the spec's exact window")
    // replacement sampling is declined: Spark keeps its own Sample
    val wr = scan("samp_t").sample(withReplacement = true, 0.25, seed = 7)
    assert(!wr.queryExecution.executedPlan.toString.contains("pushedSample"))
    // sample + aggregate never both push (explicit composition only)
    val agg = scan("samp_t").sample(0.25).groupBy().count()
    val aplan = agg.queryExecution.executedPlan.toString
    assert(aplan.contains("pushedSample") && !aplan.contains("PushedAggregates"),
      aplan.take(1200))
  }

  test("commit-time stats: a write warms changed buckets, planning pays ZERO stat passes") {
    val df = (1 to 2000).map(i => (i.toLong, s"name-$i")).toDF("k", "name")
    BucketStore.drop("skip_warm")
    BucketStore.load(spark, "skip_warm", df, "k", 8)
    // explicit registration + initial build (the operator's pre-warm)
    val an = spark.sql("CALL graft.analyze('skip_warm', 'name')").collect()
    assert(an.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq === Seq(("name", 8, 8)))
    assert(BucketStore.statColumnsOf("skip_warm") === Set("name"))
    // a write AFTER registration: publish computes the changed
    // buckets' statistics AT COMMIT
    (2001 to 2400).map(i => (i.toLong, s"name-$i")).toDF("k", "name")
      .writeTo("graft.`skip_warm`").append()
    val before = BucketSkip.buildCount.get()
    val q = scan("skip_warm").filter(col("name") === "name-2345")
    val got = q.collect()
    val planned = q.rdd.getNumPartitions
    assert(got.map(_.getAs[Long]("k")).toSeq === Seq(2345L))
    assert(planned <= 2, s"sketch should prune a unique value to ~1 of 8 buckets, got $planned")
    assert(BucketSkip.buildCount.get() === before,
      "planning after a commit must consult commit-time statistics — zero plan-time builds")
    // the lazy path is the FALLBACK, and it registers: a first filter
    // on an unregistered column builds at plan time once, then later
    // commits keep it warm too
    assert(scan("skip_warm").filter(col("k") === 1234L).count() === 1L)
    assert(BucketStore.statColumnsOf("skip_warm").contains("k"))
    (9001 to 9050).map(i => (i.toLong, s"name-$i")).toDF("k", "name")
      .writeTo("graft.`skip_warm`").append()
    val before2 = BucketSkip.buildCount.get()
    assert(scan("skip_warm").filter(col("k") === 9042L).count() === 1L)
    assert(BucketSkip.buildCount.get() === before2,
      "a lazily-registered column must also be warmed by later commits")
    // analyze validates its inputs loudly
    val bad = intercept[Exception] {
      spark.sql("CALL graft.analyze('skip_warm', 'nope')").collect()
    }
    assert(bad.getMessage.contains("nope"), bad.getMessage)
  }

  test("schema evolution: pre-ALTER short rows count as nulls for the added column, no crash") {
    val df = (1 to 500).map(i => (i.toLong, i.toString)).toDF("k", "v")
    BucketStore.drop("skip_evo")
    BucketStore.load(spark, "skip_evo", df, "k", 8)
    spark.sql("ALTER TABLE graft.`skip_evo` ADD COLUMN note STRING")
    // every stored row is below the new arity: IsNull keeps all
    // buckets and all rows; equality on the new column refutes all
    assert(scan("skip_evo").filter(col("note").isNull).count() === 500L)
    val eq = scan("skip_evo").filter(col("note") === "x")
    assert(eq.rdd.getNumPartitions === 0)
    assert(eq.count() === 0L)
  }

  test("analyze of a NEW column on a COLD reopened table streams projected — zero heap faults") {
    import graft.sources.bucketed.FileStore
    val df = (1 to 2000).map(i =>
      (i.toLong, i * 1.5, if (i % 7 == 0) null else s"w${i % 61}"))
      .toDF("k", "v", "w")
    BucketStore.drop("skip_cold_an")
    BucketStore.load(spark, "skip_cold_an", df, "k", 8)
    spark.sql("CALL graft.analyze('skip_cold_an', 'v')") // v committed, w NOT
    val dir = BucketStore.unload("skip_cold_an").get
    BucketStore.openFromDisk("skip_cold_an", dir)
    assert(BucketStore.get("skip_cold_an").buckets.loadedCount === 0)
    // analyze the never-committed column on the fully cold table: the
    // stat pass must stream exactly that column from each block file
    // (readBlockProjected), faulting NOTHING into the heap cache —
    // at 100 TB this is the difference between "analyze decodes one
    // column" and "analyze loads the table"
    val pr0 = FileStore.projectedReads.get()
    spark.sql("CALL graft.analyze('skip_cold_an', 'w')")
    assert(BucketStore.get("skip_cold_an").buckets.loadedCount === 0,
      "a cold analyze must not fault a single block into the heap cache")
    assert(FileStore.projectedReads.get() - pr0 >= 8L,
      "every bucket's new-column stats must come from a projected stream")
    // PARITY: the streamed stats must be value-identical to the
    // array-built stats over the same data (manifest consumers can
    // never tell which path produced a ColSkip)
    val t = BucketStore.get("skip_cold_an")
    t.buckets.indices.foreach { b =>
      val f = t.buckets.block(b).file.get
      val streamed = BucketSkip.fileStatsPeek(f.path, "w").get
      val arrayBuilt = BucketSkip.statsOver(t.schema, t.buckets(b), "w") // faults: after the audit
      assert(streamed === arrayBuilt, s"bucket $b: streamed vs array-built stats differ")
    }
    // the committed stats WORK from cold: reopen fresh and prune a
    // provably-empty predicate without touching a block
    BucketStore.unload("skip_cold_an")
    BucketStore.openFromDisk("skip_cold_an", dir)
    val none = scan("skip_cold_an").filter(col("w") === "nope")
    assert(none.rdd.getNumPartitions === 0, "manifest zone maps must prune every bucket")
    assert(none.count() === 0L)
    assert(BucketStore.get("skip_cold_an").buckets.loadedCount === 0)
    // plan-time stat build for a never-committed column on a cold
    // table streams too (skipStatParts path): filter on k (no stats
    // ever registered for it) — correct rows, still zero faults
    val hits = scan("skip_cold_an").filter(col("k") === 1234L).collect()
    assert(hits.map(_.getLong(0)).toSeq === Seq(1234L))
    assert(BucketStore.get("skip_cold_an").buckets.loadedCount === 0,
      "a cold filtered scan's plan-time stat pass must stream, not load")
    BucketStore.drop("skip_cold_an")
  }
}
