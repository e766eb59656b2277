package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Z-order (Morton) cluster layout ([[ZOrder]], round 10): the
  * multi-dimensional alternative to the lexicographic compound key.
  * Pins the curve math (per-dimension monotonicity — p ≤ q in every
  * dim ⇒ morton(p) ≤ morton(q) — known interleave bit patterns,
  * null-at-origin, per-type-family dim keys), the layout's payoff
  * (block zone maps prune on a range over EITHER clustered column,
  * where the lexicographic layout prunes nothing on the second), and
  * the claims a z-order table must NOT make (no ClusterSlice, no
  * reported per-column ordering, no index-ordered TopN — each of
  * which would be wrong on a Morton-sorted bucket).
  */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  // deterministic pseudo-random dims with COMPARABLE bit ranges
  // (both in [0, 4096)): z-order locality is bit-interleaved, so the
  // property reads cleanest when the dims contribute equal bit widths
  private def mix(i: Int, salt: Int): Long = {
    var h = i.toLong * 0x9E3779B97F4A7C15L + salt
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h & 0xFFFL
  }

  private def loadPair(): Unit = synchronized {
    if (!BucketStore.exists("z_t")) {
      val df = (0 until 8192)
        .map(i => (i.toLong, mix(i, 1), mix(i, 2), s"r$i"))
        .toDF("k", "x", "y", "tag")
      BucketStore.load(spark, "z_t", df, "k", 2, clusterBy = Some("zorder(x,y)"))
      BucketStore.load(spark, "lex_t", df, "k", 2, clusterBy = Some("x,y"))
    }
  }

  private def blocksSkippedDuring[A](body: => A): (A, Long) = {
    val before = HostConnection.blocksSkippedCount.get()
    val r = body
    (r, HostConnection.blocksSkippedCount.get() - before)
  }

  test("per-dimension monotonicity: p <= q in every dim => morton(p) <= morton(q)") {
    val vals = (0 until 64).map(i => mix(i, 7)) :+ 0L :+ 0xFFFFFFFFFFFFL
    for (seed <- 0 until 200) {
      val p = Array(vals((seed * 3) % vals.length), vals((seed * 5) % vals.length))
      val q = Array(p(0) + mix(seed, 11) % 1000, p(1) + mix(seed, 13) % 1000)
      val mp = ZOrder.interleave(p.map(v => ZOrder.dimKey(v)))
      val mq = ZOrder.interleave(q.map(v => ZOrder.dimKey(v)))
      assert(ZOrder.cmp(mp, mq) <= 0,
        s"dominance must be order-preserving: p=${p.toSeq} q=${q.toSeq}")
    }
  }

  test("interleave bit patterns: d=1 identity; d=2 all-ones/zero alternates; width = d words") {
    assert(ZOrder.interleave(Array(0xDEADBEEFL)).toSeq === Seq(0xDEADBEEFL))
    // MSB-first round robin: (k0 bit63, k1 bit63, k0 bit62, ...) —
    // all-ones interleaved with zero is 1010... in every output word
    assert(ZOrder.interleave(Array(-1L, 0L)).toSeq ===
      Seq(0xAAAAAAAAAAAAAAAAL, 0xAAAAAAAAAAAAAAAAL))
    assert(ZOrder.interleave(Array(0L, -1L)).toSeq ===
      Seq(0x5555555555555555L, 0x5555555555555555L))
    assert(ZOrder.interleave(Array(1L, 2L, 3L)).length === 3)
  }

  test("null maps to the curve origin; per-type dim keys order like the column") {
    assert(ZOrder.dimKey(null) === 0L)
    val allNull = ZOrder.interleave(Array(ZOrder.dimKey(null), ZOrder.dimKey(null)))
    val some = ZOrder.interleave(Array(ZOrder.dimKey(3L), ZOrder.dimKey(null)))
    assert(ZOrder.cmp(allNull, some) <= 0, "all-null row sits at/before any other point")
    def lt(a: Any, b: Any): Unit =
      assert(java.lang.Long.compareUnsigned(ZOrder.dimKey(a), ZOrder.dimKey(b)) < 0,
        s"dimKey($a) must be < dimKey($b)")
    lt(-5L, 3L); lt(Int.MinValue, -1); lt(0, Int.MaxValue)
    lt(-1.5d, 2.5d); lt(Double.NegativeInfinity, -0.0d); lt(2.5d, Double.NaN)
    lt("apple", "banana"); lt("", "a")
    lt(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
       java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    lt(false, true)
  }

  test("range on the SECOND z-column prunes blocks; the lexicographic layout prunes none") {
    loadPair()
    val z = spark.read.format("graft-buckets").option("table", "z_t").load()
    val lex = spark.read.format("graft-buckets").option("table", "lex_t").load()
    val expect = (0 until 8192).filter(i => mix(i, 2) < 256L).map(_.toLong).sorted
    val (zRows, zSkipped) = blocksSkippedDuring(z.filter(col("y") < 256L).collect())
    val (lexRows, lexSkipped) = blocksSkippedDuring(lex.filter(col("y") < 256L).collect())
    assert(zRows.map(_.getLong(0)).sorted.toSeq === expect, "z-order layout answers exactly")
    assert(lexRows.map(_.getLong(0)).sorted.toSeq === expect, "lex layout answers exactly")
    // y < 256 fixes the top y bits: on the Morton curve only blocks in
    // the y-origin slabs survive; on the (x,y) lexicographic sort every
    // block spans the full y range (x is effectively random)
    assert(zSkipped > 0, "z-order must skip blocks on a second-column range")
    assert(zSkipped > lexSkipped,
      s"z-order ($zSkipped blocks) must out-prune lexicographic ($lexSkipped) on the second column")
  }

  test("range on the FIRST z-column prunes too (locality in ANY clustered dimension)") {
    loadPair()
    val z = spark.read.format("graft-buckets").option("table", "z_t").load()
    val expect = (0 until 8192).filter(i => mix(i, 1) < 256L).map(_.toLong).sorted
    val (rows, skipped) = blocksSkippedDuring(z.filter(col("x") < 256L).collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === expect)
    assert(skipped > 0, "z-order must skip blocks on a first-column range as well")
  }

  test("TIMESTAMP_NTZ is a real Morton dimension: a range on the NTZ z-column prunes (round 19)") {
    // pre-round-19 both key sides emitted constant 0 for NTZ — parity
    // held but z-clustering ON an NTZ column contributed zero
    // locality, silently. Now it keys by micros and prunes like any
    // timestamp dimension.
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val df = (0 until 8192)
      .map(i => (i.toLong, mix(i, 1), base.plusMinutes(mix(i, 2))))
      .toDF("k", "x", "nt")
    BucketStore.drop("z_ntz")
    BucketStore.load(spark, "z_ntz", df, "k", 2, clusterBy = Some("zorder(x,nt)"))
    val t = spark.read.format("graft-buckets").option("table", "z_ntz").load()
    val expect = (0 until 8192).filter(i => mix(i, 2) < 256L).map(_.toLong).sorted
    val (rows, skipped) =
      blocksSkippedDuring(t.filter(col("nt") < lit(base.plusMinutes(256))).collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === expect, "NTZ range answers exactly")
    assert(skipped > 0, "an NTZ z-dimension must contribute curve locality")
    BucketStore.drop("z_ntz")
  }

  test("DECIMAL is an exact Morton dimension (round 20): a range on the money z-column prunes") {
    // pre-round-20 decimals keyed through doubleValue — monotone, so
    // pruning worked, but adjacent values beyond 2^53 collapsed to
    // curve ties. Now compact decimals key by the unscaled long at the
    // column scale ([[ZOrder.dimKeyFn]]), matching the vectorized
    // side's unscaled storage exactly.
    val df = (0 until 8192)
      .map(i => (i.toLong, mix(i, 1), mix(i, 2)))
      .toDF("k", "x", "praw")
      .selectExpr("k", "x", "CAST(praw AS DECIMAL(12,2)) / 100 AS p")
      .selectExpr("k", "x", "CAST(p AS DECIMAL(12,2)) AS p")
    BucketStore.drop("z_dec")
    BucketStore.load(spark, "z_dec", df, "k", 2, clusterBy = Some("zorder(x,p)"))
    assert(BucketStore.get("z_dec").zKeyVersion === ZOrder.KEY_VERSION)
    val t = spark.read.format("graft-buckets").option("table", "z_dec").load()
    val expect = (0 until 8192).filter(i => mix(i, 2) < 256L).map(_.toLong).sorted
    val (rows, skipped) =
      blocksSkippedDuring(t.filter(col("p") < lit(new java.math.BigDecimal("2.56"))).collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === expect, "decimal range answers exactly")
    assert(skipped > 0, "a decimal z-dimension must contribute curve locality")
    BucketStore.drop("z_dec")
  }

  test("a z-order table never claims a ClusterSlice (Morton runs have no lexicographic prefix)") {
    loadPair()
    val z = spark.read.format("graft-buckets").option("table", "z_t").load()
    val desc = z.filter(col("x") === 5L).queryExecution.executedPlan.toString
    assert(!desc.contains("clusterSlice"),
      s"z-order scan must not advertise a slice:\n${desc.take(1200)}")
  }

  test("no reported ordering: sortWithinPartitions on the z-columns really sorts") {
    loadPair()
    val sorted = spark.read.format("graft-buckets").option("table", "z_t").load()
      .select("x", "y")
      .sortWithinPartitions("x", "y")
    // the buggy claim (ascending (x,y) per partition) would elide this
    // Sort and emit Morton order; assert both the node and the rows
    assert(sorted.queryExecution.executedPlan.toString.contains("Sort"),
      "planner must keep the per-partition Sort above a Morton-ordered scan")
    sorted.mapPartitions { it =>
      val rows = it.map(r => (r.getLong(0), r.getLong(1))).toVector
      Iterator.single(rows == rows.sorted)
    }.collect().foreach(ok => assert(ok, "every partition must come out (x,y)-sorted"))
  }

  test("TopN on a z-order table falls back to the bounded heap (correct top-n, not Morton head)") {
    loadPair()
    val z = spark.read.format("graft-buckets").option("table", "z_t").load()
    val got = z.orderBy(col("x").asc).limit(5).collect().map(_.getLong(1)).toSeq
    val expect = (0 until 8192).map(i => mix(i, 1)).sorted.take(5)
    assert(got.sorted === expect,
      s"top-5 by x must be the true minima, got $got expected $expect")
  }

  test("appends keep the Morton order (delta merge shares the z comparator)") {
    BucketStore.drop("z_merge")
    val first = Seq((1L, 3000L, 3000L), (2L, 10L, 10L), (3L, 2000L, 100L))
      .toDF("k", "x", "y")
    BucketStore.load(spark, "z_merge", first, "k", 1, clusterBy = Some("zorder(x,y)"))
    spark.sql("INSERT INTO graft.z_merge VALUES (4, 5, 5), (5, 3500, 3500)")
    val t = BucketStore.get("z_merge")
    // the table's EFFECTIVE key (rank-normalized once bounds froze at
    // the first data commit) — asserting the raw key here would test
    // an order the store no longer maintains
    val zk = BucketStore.zKeyOf(t)
    val keys = t.buckets(0).map(zk)
    keys.sliding(2).foreach { case Array(a, b) =>
      assert(ZOrder.cmp(a, b) <= 0, "bucket must stay Morton-sorted after append")
    }
  }

  test("reorder refreshes drifted rank boundaries: pruning re-tightens, answers identical") {
    // bounds freeze at the first data commit: a narrow id dim x in
    // [0,16) against a wide dim y in [0,2^12) — equi-depth ranks
    // weigh them equally and x prunes (the rank-normalization test
    // below pins that on fresh data). Then a drifted append 4x the
    // original data lands ENTIRELY ABOVE the frozen boundaries of
    // both dims: every drifted row maps to the top rank slab, where
    // the curve degrades to the RAW tie-refinement bits — and the
    // drifted region reproduces the exact pathology rank
    // normalization exists for (4-bit ids against ~40 varying bits of
    // y), so an id-equality query there stops pruning. CALL
    // graft.reorder re-samples boundaries from the data as it stands
    // and re-sorts in place; the same query must then skip strictly
    // more blocks, return identical rows, and leave the layout epoch
    // alone (no bucket re-assignment).
    BucketStore.drop("z_drift")
    val base = (0 until 4096).map(i => (i.toLong, (mix(i, 21) % 16).toLong, mix(i, 22)))
    val lo = 1L << 20
    val drift = (0 until 16384).map { i =>
      (100000L + i, lo + (mix(i, 23) % 16).toLong, lo + (mix(i, 24) << 28 | mix(i, 25)))
    }
    BucketStore.load(spark, "z_drift", base.toDF("k", "x", "y"), "k", 2,
      clusterBy = Some("zorder(x,y)"))
    drift.grouped(8192).foreach { g =>
      g.toDF("k", "x", "y").writeTo("graft.z_drift").append()
    }
    val epochBefore = BucketStore.get("z_drift").layoutEpoch
    val z = spark.read.format("graft-buckets").option("table", "z_drift").load()
    val expect = drift.filter(_._2 == lo + 3L).map(_._1).sorted
    def run() = blocksSkippedDuring(
      z.filter(col("x") === (lo + 3L)).collect())
    val (rowsBefore, skippedBefore) = run()
    spark.sql("CALL graft.reorder('z_drift')").collect()
    val (rowsAfter, skippedAfter) = run()
    assert(rowsBefore.map(_.getLong(0)).sorted.toSeq === expect)
    assert(rowsAfter.map(_.getLong(0)).sorted.toSeq === expect,
      "reorder must never change answers")
    assert(skippedAfter > skippedBefore,
      s"re-frozen boundaries must re-tighten pruning in the drifted region " +
        s"(before: $skippedBefore blocks skipped, after: $skippedAfter)")
    assert(BucketStore.get("z_drift").layoutEpoch === epochBefore,
      "reorder is an in-bucket rewrite — bucket assignment and layout epoch are untouched")
    // and a non-z table refuses loudly
    loadPair()
    val e = intercept[IllegalArgumentException] {
      BucketStore.reorder("lex_t")
    }
    assert(e.getMessage.contains("not z-ordered"))
  }

  test("rank normalization: a narrow dim prunes even against a 48-bit-wide partner") {
    // user-style ids in [0, 16) (4 bits) against ~48-bit values: raw
    // bit interleave lets the wide dim own the curve and an id range
    // prunes nothing; equi-depth ranks weigh the dims equally, so the
    // id's locality survives and blocks skip
    BucketStore.drop("z_mixed")
    val df = (0 until 8192)
      .map(i => (i.toLong, (mix(i, 3) % 16).toLong, mix(i, 4) << 36 | mix(i, 5)))
      .toDF("k", "id", "wide")
    BucketStore.load(spark, "z_mixed", df, "k", 2, clusterBy = Some("zorder(id,wide)"))
    val t = BucketStore.get("z_mixed")
    assert(t.zBounds.isDefined, "first data commit must freeze rank boundaries")
    val z = spark.read.format("graft-buckets").option("table", "z_mixed").load()
    val props = new BucketedTable("z_mixed").properties()
    assert(props.containsKey("zorder.rank_bounds"),
      "DESCRIBE must surface that rank boundaries are frozen")
    val expect = (0 until 8192).filter(i => mix(i, 3) % 16 == 3).map(_.toLong).sorted
    val (rows, skipped) = blocksSkippedDuring(z.filter(col("id") === 3L).collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq === expect, "answers never depend on the curve")
    assert(skipped > 0,
      "the narrow dimension must prune blocks — raw interleave would be dominated by 'wide'")
    // and the wide dim still prunes too (ranks preserve ITS locality)
    val wideCut = mix(2048, 4) << 36 | mix(2048, 5)
    val expectW = (0 until 8192)
      .filter(i => java.lang.Long.compareUnsigned(mix(i, 4) << 36 | mix(i, 5), wideCut) < 0)
      .map(_.toLong).sorted
    val (rowsW, skippedW) = blocksSkippedDuring(
      z.filter(col("wide") < wideCut && col("wide") >= 0L).collect())
    assert(rowsW.map(_.getLong(0)).sorted.toSeq === expectW)
    assert(skippedW > 0, "the wide dimension keeps pruning under rank normalization")
  }
}
