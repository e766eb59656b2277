package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.BucketStore

/** Statistics-driven DELETE ([[graft.sources.bucketed.BucketStore.deleteWhereFiltered]],
  * gated end-to-end by q248): on a range layout a retention predicate
  * classifies buckets as dropped-whole / untouched / straddling from
  * zone maps alone — only the straddler's rows are ever evaluated,
  * untouched buckets keep their arrays (and files) BY IDENTITY, and
  * the merge-on-read variant takes the same fast paths. The
  * over-claim-impossible proof itself is property-pinned in GraftProps
  * ("mustMatchAll never over-claims").
  */
class MetadataDeleteSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def rangeTable(name: String, n: Int = 1600): Unit = {
    val df = (1 to n).map(i => (i.toLong, s"doc-$i", i % 7)).toDF("k", "name", "grp")
    BucketStore.drop(name)
    BucketStore.load(spark, name, df, "k", 8)
    // analyze BEFORE the layout change: the repartition publish then
    // carries the zone maps in its manifest, so a reopened table
    // classifies with zero block loads (the file-substrate test)
    spark.sql(s"CALL graft.analyze('$name', 'k')")
    spark.sql(s"CALL graft.repartition_range('$name', 8)")
  }

  test("COW retention delete: whole buckets drop, untouched keep identity, one straddler scans") {
    rangeTable("md_cow")
    val prev = BucketStore.get("md_cow")
    val prevLive = prev.buckets.indices.map(b => BucketStore.liveCount(prev, b))

    spark.sql("DELETE FROM graft.`md_cow` WHERE k < 500")
    val out = BucketStore.lastDeleteOutcome("md_cow").get
    val next = BucketStore.get("md_cow")

    assert(out.rowsDeleted === 499L)
    assert(out.droppedBuckets >= 1, s"range layout must prove whole buckets covered: $out")
    assert(out.untouchedBuckets >= 1, s"range layout must prove whole buckets disjoint: $out")
    assert(out.scannedBuckets <= 1, s"only the boundary bucket may straddle k<500: $out")

    // untouched buckets share storage with the previous snapshot —
    // same array, same backing file, no rewrite
    val shared = next.buckets.indices.count(b => next.buckets.sharesWith(prev.buckets, b))
    assert(shared === out.untouchedBuckets,
      s"every untouched bucket must retain its block ($shared shared vs $out)")

    // the only rows EVALUATED are the straddler's pre-delete rows
    val scannedLive = next.buckets.indices.collect {
      case b if !next.buckets.sharesWith(prev.buckets, b) &&
        next.buckets.rowCount(b) > 0 => prevLive(b)
    }.sum
    assert(out.rowsEvaluated === scannedLive.toLong,
      s"dropped/untouched buckets must contribute zero evaluations: $out")

    // answer exact
    assert(scan("md_cow").count() === (1600 - 499).toLong)
    assert(scan("md_cow").agg(min(col("k"))).head.getLong(0) === 500L)
  }

  test("merge-on-read: dropped buckets shed base AND delta; straddler pays O(matches) bits") {
    rangeTable("md_mor")
    BucketStore.setDmlMode("md_mor", BucketStore.MergeOnRead)
    // seed MoR state across the table so the drop path must shed it
    spark.sql("UPDATE graft.`md_mor` SET grp = grp + 100 WHERE k % 400 = 1")
    val prev = BucketStore.get("md_mor")

    spark.sql("DELETE FROM graft.`md_mor` WHERE k < 500")
    val out = BucketStore.lastDeleteOutcome("md_mor").get
    val next = BucketStore.get("md_mor")

    assert(out.droppedBuckets >= 1 && out.untouchedBuckets >= 1 && out.scannedBuckets <= 1,
      s"MoR classification must match COW's: $out")
    // dropped buckets: empty base, no residual delete-vector/delta
    val dropped = next.buckets.indices.filter(b =>
      next.buckets.rowCount(b) == 0 && prev.buckets.rowCount(b) > 0)
    assert(dropped.nonEmpty)
    dropped.foreach(b => assert(next.mor.get(b).isEmpty,
      s"a dropped bucket must shed its MoR state (bucket $b)"))
    // straddler keeps its BASE block by identity (bits-only publish)
    val scanned = next.buckets.indices.filter(b =>
      next.buckets.rowCount(b) > 0 && !dropped.contains(b) &&
        BucketStore.liveCount(next, b) != BucketStore.liveCount(prev, b))
    scanned.foreach(b => assert(next.buckets.sharesWith(prev.buckets, b),
      s"MoR straddler must retain its base block (bucket $b)"))

    assert(scan("md_mor").count() === (1600 - 499).toLong)
    assert(scan("md_mor").agg(min(col("k"))).head.getLong(0) === 500L)
  }

  test("NULLs block the full-coverage proof: null rows survive a < delete") {
    // a null every 10th row: key-hash spreads them into all 4 buckets
    val df = (1 to 200).map { i =>
      (i.toLong, if (i % 10 == 0) null else java.lang.Long.valueOf(i.toLong))
    }.toDF("k", "v")
    BucketStore.drop("md_null")
    BucketStore.load(spark, "md_null", df, "k", 4)
    spark.sql("CALL graft.analyze('md_null', 'v')")

    spark.sql("DELETE FROM graft.`md_null` WHERE v < 1000")
    val out = BucketStore.lastDeleteOutcome("md_null").get
    // every non-null v matches, but nullCount > 0 forbids the whole-
    // bucket proof: SQL three-valued logic keeps the null rows
    assert(out.droppedBuckets === 0, s"a null-holding bucket must never drop whole: $out")
    val left = scan("md_null").collect()
    assert(left.length === 20)
    assert(left.forall(_.isNullAt(1)), "exactly the null-v rows survive")
  }

  test("CDC: a whole-bucket drop still emits exactly its delete rows") {
    val df = (1 to 400).map(i => (i.toLong, s"doc-$i")).toDF("k", "name")
    BucketStore.drop("md_cdc")
    BucketStore.load(spark, "md_cdc", df, "k", 8)
    spark.sql("CALL graft.analyze('md_cdc', 'k')")
    // k >= 0 proves all-match in EVERY bucket: the whole table drops
    // at manifest granularity — the diff must still read as row deletes
    spark.sql("DELETE FROM graft.`md_cdc` WHERE k >= 0")
    val out = BucketStore.lastDeleteOutcome("md_cdc").get
    assert(out.droppedBuckets === 8 && out.rowsEvaluated === 0L,
      s"an all-matching predicate must drop every bucket whole: $out")
    val vDel = BucketStore.currentVersion("md_cdc")
    val feed = spark.readStream.format("graft-buckets")
      .option("table", "md_cdc").option("mode", "cdc").load()
    val rows = graft.streaming.StreamOps.runToMemory(feed, "append").collect()
    val dels = rows.filter(r => r.getAs[Long]("_commit_version") == vDel &&
      r.getAs[String]("_change_type") == "delete")
    assert(dels.length === 400, "the manifest edit must still read as 400 row deletes")
    assert(dels.map(_.getAs[Long]("k")).toSet === (1L to 400L).map(_.toLong).toSet)
  }

  test("q248 gate self-audit holds at sf0.001 (date-keyed range layout end-to-end)") {
    val df = graft.sources.bucketed.BucketedQueries.retentionDeleteQuery(spark, sf)
    val years = df.collect().map(_.getInt(0)).toSet
    assert(years.nonEmpty && years.min >= 1998, s"pre-cutoff years survived: $years")
  }

  test("file substrate: a reopened table classifies from manifest stats and drops clean") {
    rangeTable("md_file")
    val dir = BucketStore.unload("md_file").get
    BucketStore.openFromDisk("md_file", dir)
    val t = BucketStore.get("md_file")
    assert(t.buckets.loadedCount === 0, "reopened table must start fully evicted")

    spark.sql("DELETE FROM graft.`md_file` WHERE k < 500")
    val out = BucketStore.lastDeleteOutcome("md_file").get
    assert(out.droppedBuckets >= 1 && out.scannedBuckets <= 1, s"$out")
    // classification + drop load only the straddler: dropped and
    // untouched buckets stay evicted (manifest stats served the proof)
    val next = BucketStore.get("md_file")
    assert(next.buckets.loadedCount <= out.scannedBuckets + out.droppedBuckets,
      s"untouched buckets must not load during a metadata delete " +
        s"(loaded=${next.buckets.loadedCount}, $out)")
    assert(scan("md_file").count() === (1600 - 499).toLong)
  }

  test("merge-on-read COLD straddler streams only the filter columns — zero heap faults") {
    import graft.sources.bucketed.FileStore
    val df = (1 to 1600).map(i => (i.toLong, s"doc-$i", i % 7)).toDF("k", "name", "grp")
    BucketStore.drop("md_stream")
    BucketStore.load(spark, "md_stream", df, "k", 8)
    BucketStore.setDmlMode("md_stream", BucketStore.MergeOnRead) // BEFORE the
    // analyze/repartition publishes so the manifest carries the mode
    spark.sql("CALL graft.analyze('md_stream', 'k')")
    spark.sql("CALL graft.repartition_range('md_stream', 8)")
    val dir = BucketStore.unload("md_stream").get
    BucketStore.openFromDisk("md_stream", dir)
    assert(BucketStore.get("md_stream").buckets.loadedCount === 0)
    // retention delete on the fully cold MoR table: drops classify
    // from manifest stats, and the ONE straddler finds its deletion
    // positions by streaming just the filter column (k) — the 100 TB
    // shape where before this round the straddler faulted its whole
    // block into the heap cache
    spark.sql("DELETE FROM graft.`md_stream` WHERE k < 500")
    val out = BucketStore.lastDeleteOutcome("md_stream").get
    assert(out.droppedBuckets >= 1 && out.scannedBuckets <= 1, s"$out")
    // dropped buckets are REPLACED by empty in-heap arrays (that's the
    // drop, not a fault); no block holding DATA may have loaded — the
    // straddler streamed its filter column, everything else classified
    // from manifest stats
    val t2 = BucketStore.get("md_stream")
    val faulted = t2.buckets.indices.count(b =>
      t2.buckets.block(b).isLoaded && t2.buckets.rowCount(b) > 0)
    assert(faulted === 0,
      "a cold merge-on-read DELETE must fault NOTHING — the straddler streams its filter columns")
    assert(scan("md_stream").count() === 1101L)
    assert(scan("md_stream").agg(min(col("k"))).head.getLong(0) === 500L)
    // the straddler's bits fold correctly on a later full read
    val rows = scan("md_stream").collect()
    assert(rows.length === 1101)
    assert(rows.forall(_.getLong(0) >= 500L))
    BucketStore.drop("md_stream")
  }
}
