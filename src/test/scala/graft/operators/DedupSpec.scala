package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  // Planted corpus: d1≈d2 (one word changed), d3 = exact copy of d1,
  // d4 unrelated.
  private val base = (1 to 40).map(i => s"w$i").mkString(" ")
  private val docs = Seq(
    (1L, base),
    (2L, base.replace("w20", "zz")),
    (3L, base),
    (4L, (100 to 140).map(i => s"v$i").mkString(" ")))

  test("exact dedup keeps min id per identical text") {
    val got = Dedup.exact(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L), (4L, 1L)))
  }

  test("ngram jaccard finds the near-dup and the exact dup, not the unrelated doc") {
    val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash-LSH output equals brute-force jaccard on the reference corpus") {
    val d = graft.tables.Tables.documents(spark, sf)
    val brute = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minHashLshPairs(d, "doc_id", "text", 3, 32, 16, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh === brute)
    assert(brute.nonEmpty) // sf0.001 has planted near-dups
  }

  test("incremental dedup equals the full exact computation restricted to batch pairs") {
    val d = graft.tables.Tables.documents(spark, sf)
    val idx = s"minhash_idx_spec@$sf"
    graft.sources.bucketed.BucketStore.drop(idx)
    val got = Dedup.incrementalDedupPairs(spark, d, "doc_id", "text", idx,
        col("doc_id") % 10 === 0, 3, 32, 16, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val full = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a % 10 == 0 || b % 10 == 0 }.toSet
    assert(got === full)
    assert(got.nonEmpty, "sf0.001 should plant at least one batch-touching near-dup")
  }

  test("incremental dedup: identical pairs with the candidate sets broadcast and shuffled") {
    val d = graft.tables.Tables.documents(spark, sf)
    val idx = s"minhash_idx_sides@$sf"
    graft.sources.bucketed.BucketStore.drop(idx)
    def run(): (String, Set[(Long, Long, Double)]) = {
      val (q, caches) = Dedup.incrementalDedupFrames(spark, d, "doc_id", "text", idx,
        col("doc_id") % 10 === 0, 3, 32, 16, 0.8)
      val plan = q.queryExecution.executedPlan.toString
      val pairs = q.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      caches.foreach(_.unpersist())
      (plan, pairs)
    }
    val (bPlan, broadcastPairs) = run()
    val (sPlan, shuffledPairs) = withBroadcastThreshold("-1")(run())
    assert(!bPlan.contains("SortMergeJoin"), "candidate-sized sides must broadcast")
    assert(!sPlan.contains("BroadcastHashJoin"), "at -1 every join must shuffle")
    assert(broadcastPairs.nonEmpty && broadcastPairs === shuffledPairs)
  }

  test("incremental dedup reuses the persisted index: second run publishes no new version") {
    val d = graft.tables.Tables.documents(spark, sf)
    val idx = s"minhash_idx_reuse@$sf"
    graft.sources.bucketed.BucketStore.drop(idx)
    Dedup.incrementalDedupPairs(spark, d, "doc_id", "text", idx,
      col("doc_id") % 10 === 0, 3, 32, 16, 0.8).count()
    val v1 = graft.sources.bucketed.BucketStore.currentVersion(idx)
    Dedup.incrementalDedupPairs(spark, d, "doc_id", "text", idx,
      col("doc_id") % 10 === 0, 3, 32, 16, 0.8).count()
    assert(graft.sources.bucketed.BucketStore.currentVersion(idx) === v1,
      "the batch run must not rebuild or republish the corpus index")
  }

  test("daily cycle: admitted batch signatures extend the index, the NEXT batch dedups against them") {
    // corpus doc 1; day-1 batch doc 10 (unique); day-2 batch doc 20 = near-dup of doc 10.
    // Without index maintenance day 2 misses (10, 20) — 10 is in no corpus.
    val t1 = (1 to 40).map(i => s"c$i").mkString(" ")
    val t10 = (100 to 140).map(i => s"d$i").mkString(" ")
    val t20 = t10.replace("d120", "zz")
    val idx = s"minhash_idx_cycle"
    graft.sources.bucketed.BucketStore.drop(idx)
    val day1 = Seq((1L, t1), (10L, t10)).toDF("doc_id", "text")
    val p1 = Dedup.incrementalDedupPairs(spark, day1, "doc_id", "text", idx,
      col("doc_id") >= 10, 3, 32, 16, 0.8)
    assert(p1.count() === 0, "day 1's batch has no near-dups anywhere")
    // admit day 1's batch: append its signature rows through the catalog
    Dedup.signatureIndexRows(day1.filter(col("doc_id") >= 10), "doc_id", "text", 3, 32, 16)
      .writeTo(s"graft.`$idx`").append()
    // day 2: doc 20 arrives; the extended index catches its near-dup of doc 10
    val day2 = Seq((1L, t1), (10L, t10), (20L, t20)).toDF("doc_id", "text")
    val p2 = Dedup.incrementalDedupPairs(spark, day2, "doc_id", "text", idx,
      col("doc_id") >= 20, 3, 32, 16, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p2 === Set((10L, 20L)),
      "the appended day-1 signatures must make doc 10 visible to day 2's batch")
  }

  test("q244 cycle: each batch appends ONE artifact version; grown artifact equals one-shot rebuild") {
    import graft.sources.bucketed.BucketStore
    BucketStore.drop(s"jaccard_pairs_ext@$sf")
    BucketStore.drop(s"minhash_idx_ext@$sf")
    BucketStore.drop(s"minhash_idx_ext@${sf}__df")
    val grown = Dedup.pairArtifactExtendQuery(spark, sf)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val oneShot = Dedup.ngramJaccardPairs(
        graft.tables.Tables.documents(spark, sf), "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(grown === oneShot,
      "artifact after two extension cycles must equal the from-scratch rebuild")
    assert(grown.exists { case (a, b, _) => a % 10 <= 1 || b % 10 <= 1 },
      "the corpus should plant at least one batch-touching pair or the cycle is untested")
    // MVCC lifecycle: day-0 seed (create shell + data commit = 2
    // versions) + exactly ONE appended version per cycle = 4 — and so
    // for the index and its df twin
    Seq(s"jaccard_pairs_ext@$sf", s"minhash_idx_ext@$sf", s"minhash_idx_ext@${sf}__df")
      .foreach { t =>
        assert(BucketStore.retainedVersionCount(t) === 4,
          s"$t should hold exactly seed (2) + 2 extension versions")
      }
    // re-serving is read-only: no new version on a second call
    val v = BucketStore.currentVersion(s"jaccard_pairs_ext@$sf")
    Dedup.pairArtifactExtendQuery(spark, sf).count()
    assert(BucketStore.currentVersion(s"jaccard_pairs_ext@$sf") === v)
  }

  test("incremental dedup candidate generation is equi-joins, never a cartesian") {
    val d = graft.tables.Tables.documents(spark, sf)
    val idx = s"minhash_idx_plan@$sf"
    graft.sources.bucketed.BucketStore.drop(idx)
    val (q, caches) = Dedup.incrementalDedupFrames(spark, d, "doc_id", "text", idx,
      col("doc_id") % 10 === 0, 3, 32, 16, 0.8)
    val p = q.queryExecution.executedPlan.toString
    caches.foreach(_.unpersist())
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join\n${p.take(800)}")
  }

  test("connected components: chains collapse to min id, islands stay apart") {
    // graph: 1-2, 2-3, 3-4 (chain) + 10-11 (island) → comps {1,2,3,4}→1, {10,11}→10
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("LSH recall bound on the gated corpus is negligible (pins q17's oracle)") {
    // q17 gates probabilistic MinHash-LSH (16 bands × 2 rows) against the
    // exact-Jaccard oracle. A true pair at jaccard j escapes every band
    // with probability (1 - j²)^16. This pin: the corpus's weakest
    // above-threshold pair must sit high enough that the total expected
    // miss count stays < 1e-6 — if testdata regen ever lowers the margin,
    // this fails before the round gate does.
    val brute = Dedup.ngramJaccardPairs(
        graft.tables.Tables.documents(spark, sf), "doc_id", "text", 3, 0.8)
      .select("jaccard").as[Double].collect()
    assert(brute.nonEmpty)
    val missProb = brute.map(j => math.pow(1.0 - j * j, 16)).sum
    assert(missProb < 1e-6, s"corpus min jaccard ${brute.min}: expected misses $missProb")
  }

  test("stop-shingle df cap drops boilerplate-only pairs, keeps real near-dups") {
    // 6 docs share the same 3-word boilerplate prefix (one hot shingle,
    // df = 6); d1 and d2 are exact copies of each other; tails otherwise
    // unique. At threshold 0.01 WITHOUT a cap every pair sharing the hot
    // shingle surfaces; with maxDf = 3 the boilerplate shingle is dropped
    // and only the true dup pair (still sharing all its normal shingles)
    // survives.
    val pre = "c1 c2 c3"
    val mk = (tag: String) => pre + " " + (1 to 20).map(i => s"$tag$i").mkString(" ")
    val hotDocs = Seq(
      (1L, mk("a")), (2L, mk("a")), // exact dups
      (3L, mk("b")), (4L, mk("c")), (5L, mk("d")), (6L, mk("e"))).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", 3, 0.01)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 15, s"all C(6,2) pairs share the boilerplate shingle: $uncapped")
    val capped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", 3, 0.01, maxDf = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)), s"only the true dup pair should survive the cap: $capped")
  }

  test("query-restricted pairs equal the full pair table filtered to the query set") {
    val d = graft.tables.Tables.documents(spark, sf)
    val qIds = Set(0L, 1L, 2L)
    val full = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.3)
      .collect().toSet
      .filter(r => qIds.contains(r.getLong(0)) || qIds.contains(r.getLong(1)))
    val restricted = Dedup.ngramJaccardPairsFor(d, "doc_id", "text", 3, 0.3,
        queryIds = d.filter(col("doc_id") < 3).select(col("doc_id").as("id")))
      .collect().toSet
    assert(restricted === full)
    // restricting to ALL ids reproduces the full table exactly (incl.
    // the query-query double-emission collapse)
    val all = Dedup.ngramJaccardPairsFor(d, "doc_id", "text", 3, 0.8,
        queryIds = d.select(col("doc_id").as("id")))
      .collect().toSet
    assert(all === Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8).collect().toSet)
  }

  test("query-restricted pairs honor the corpus-wide df cap (stop shingles stay stopped)") {
    val mk = (tail: String) => (1 to 6).map(i => s"common$i").mkString(" ") + " " + tail
    val hotDocs = Seq((1L, mk("a")), (2L, mk("a")),
      (3L, mk("b")), (4L, mk("c")), (5L, mk("d")), (6L, mk("e"))).toDF("doc_id", "text")
    val q = Seq(1L).toDF("id")
    val capped = Dedup.ngramJaccardPairsFor(hotDocs, "doc_id", "text", 3, 0.01, q, maxDf = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)),
      s"the df>3 boilerplate shingles must stay dropped in the restricted path: $capped")
  }

  test("incremental dedup caps by CORPUS df, not candidate df (the round-13 closed caveat)") {
    import graft.sources.bucketed.BucketStore
    // 8 docs all sharing one boilerplate trigram; two of them (one
    // history, one batch) are identical BOILERPLATE-ONLY docs. With
    // maxDf = 7 the trigram's corpus df = 8 > cap, so q16 drops it
    // and the pair must NOT exist. The pre-fix incremental path saw
    // candidate-scoped df = 2 ≤ 7, kept the shingle, and emitted the
    // pair at jaccard 1.0 — a silent scoring fork the persisted
    // corpus-df table now prevents.
    val boiler = "c1 c2 c3"
    val docs = (Seq(
      (10L, boiler),                        // batch (id % 10 == 0)
      (1L, boiler)) ++                      // history twin
      (2L to 7L).map(i => (i, s"$boiler t${i}a t${i}b t${i}c t${i}d"))
      ).toDF("doc_id", "text")
    val isBatch = col("doc_id") % 10 === 0
    BucketStore.drop("cap_idx"); BucketStore.drop("cap_idx__df")
    val inc = Dedup.incrementalDedupPairs(spark, docs, "doc_id", "text",
        indexName = "cap_idx", isBatch, n = 3, numHashes = 32, bands = 16,
        threshold = 0.5, maxDf = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5, maxDf = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(inc === full, s"incremental must equal the capped one-shot path: inc=$inc full=$full")
    assert(!inc.contains((1L, 10L)),
      "the boilerplate-only pair must be dropped by the CORPUS-wide cap")
    // sanity: without the cap the pair IS real (the test tests the cap)
    BucketStore.drop("cap_idx"); BucketStore.drop("cap_idx__df")
    val uncapped = Dedup.incrementalDedupPairs(spark, docs, "doc_id", "text",
        indexName = "cap_idx", isBatch, n = 3, numHashes = 32, bands = 16,
        threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 10L)))
    BucketStore.drop("cap_idx"); BucketStore.drop("cap_idx__df")
  }

  test("df cap above corpus max df leaves results byte-identical (pins the gated oracles)") {
    val d = graft.tables.Tables.documents(spark, sf)
    val base = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8, maxDf = Int.MaxValue - 1)
      .collect().toSet
    val capped = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8)
      .collect().toSet
    assert(capped === base)
  }

  test("connected components throws past maxIters instead of looping") {
    // a 12-node path needs ~4 star passes (length halves per pass),
    // so maxIters = 3 must abort with a clear error
    // the WithRounds entry IS the distributed loop (the public wrapper
    // short-circuits sub-threshold graphs to a driver union-find)
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsWithRounds(chain, maxIters = 3)._1.collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star passes: a 100-node chain converges in O(log) passes, not O(length)") {
    // plain min-label propagation moves one hop per round (a 100-chain
    // would need ~99 rounds and trip maxIters = 12); large-star halves
    // path length per pass, so 12 passes is ample
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsWithRounds(chain, maxIters = 12)._1
      .as[(Long, Long)].collect()
    assert(got.length === 100)
    assert(got.forall(_._2 == 0L), s"all labels must collapse to 0: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("convergence via accumulator: no separate count job per round") {
    // an 8-node chain converges in ~3 star passes. Materializations:
    // 3 setup cuts (sym, vertices, edges) + 2 per pass (large-star,
    // small-star) + the final label collect ≈ 10, each fanning into
    // ~4 AQE jobs — measured 40 total. A per-pass convergence count()
    // job (+~10) or an O(length) pass count (8-chain → 7 passes,
    // +~30) both blow through the ceiling, which is what it guards.
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val chain = (0L until 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsWithRounds(chain)._1.as[(Long, Long)].collect()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
    assert(got.forall(_._2 == 0L))
    assert(jobs <= 44, s"expected ≤44 jobs for an 8-chain CC, saw $jobs")
  }

  test("star-pass bound: a 256-link chain closes in ≤10 passes, labels match union-find") {
    // THE scale pin for the drop-list machinery (q65/q66/q83/q86/q122
    // all sit on this loop): CC must converge in O(log d) passes
    // REGARDLESS of id layout, and a revert to one-hop propagation —
    // or to round-10's label+jump scheme, which degraded to >25
    // rounds on exactly this permuted fixture — would be invisible on
    // the tiny-diameter gated corpora while catastrophic at 100×. A
    // 257-node path (256 links, diameter 256) under plain propagation
    // needs ~256 rounds; the alternating star algorithm closes it in
    // 8 (measured; 9-10 on descending/bit-reversal layouts).
    // maxIters=10 IS the assertion: the implementation throws past
    // it, so green = ≤10 edge-shuffle passes. Ids are permuted
    // (i·97 mod 257) so the min id sits mid-chain, not at an end. A
    // disjoint 5-node island pins component separation.
    def perm(i: Long): Long = (i * 97) % 257
    val chainEdges = (0L until 256L).map(i => (perm(i), perm(i + 1)))
    val islandEdges = (1000L until 1004L).map(i => (i, i + 1))
    val edges = chainEdges ++ islandEdges
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val got = Dedup.connectedComponentsWithRounds(edges.toDF("id_a", "id_b"), maxIters = 10)._1
      .as[(Long, Long)].collect().toMap
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
    // oracle: exact driver-side union-find over the same edge list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(math.max(a, b))) = find(math.min(a, b)) }
    // canonical label = component MIN, matching connectedComponents' contract
    val members = parent.keys.toSeq.groupBy(find)
    val expected = members.flatMap { case (_, ids) =>
      val m = ids.min; ids.map(_ -> m)
    }.toMap
    assert(got === expected, s"labels diverge from union-find oracle: " +
      s"${got.toSeq.filter(kv => expected.get(kv._1) != Some(kv._2)).take(5)}")
    assert(got.values.toSet === Set(0L, 1000L))
    // secondary ceiling: ≤10 rounds at ≤~7 AQE jobs per round plus
    // setup/collect — a per-round convergence-count() revert or an
    // O(d) revert both blow through this
    assert(jobs <= 80, s"expected ≤80 jobs for a 256-chain CC, saw $jobs")
  }

  test("driver union-find fast path matches the distributed star loop exactly") {
    // the public connectedComponents short-circuits sub-threshold LONG
    // pair graphs to a driver union-find — its labels must be
    // indistinguishable from the star loop's on an adversarial layout
    // (permuted chain: min id mid-chain) plus islands and self-pairs
    def perm(i: Long): Long = (i * 97) % 257
    val edges = (0L until 256L).map(i => (perm(i), perm(i + 1))) ++
      (1000L until 1004L).map(i => (i, i + 1)) ++ Seq((5000L, 5000L))
    val df = edges.toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(df).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponentsWithRounds(df, maxIters = 10)._1
      .as[(Long, Long)].collect().toMap
    assert(fast === dist, s"fast path diverges: " +
      s"${fast.toSeq.filter(kv => dist.get(kv._1) != Some(kv._2)).take(5)}")
    // the self-paired vertex labels itself in both paths
    assert(fast(5000L) === 5000L)
  }

  test("signature-index lifecycle: retired docs stop generating candidates, compact shrinks the index") {
    import graft.sources.bucketed.BucketStore
    // planted: batch doc 10 near-dups BOTH corpus doc 5 (retired) and
    // corpus doc 7 (kept); corpus doc 12 unrelated. After retiring 5,
    // incremental dedup of the batch must surface (7,10) ONLY.
    val lcDocs = Seq(
      (5L, base),
      (7L, base.replace("w30", "qq")),
      (12L, (200 to 240).map(i => s"u$i").mkString(" ")),
      (10L, base)).toDF("doc_id", "text")
    val name = "minhash_idx_lifecycle_spec"
    BucketStore.drop(name)
    val isBatch = col("doc_id") === 10L
    BucketStore.load(spark, name,
      Dedup.signatureIndexRows(lcDocs.filter(!isBatch), "doc_id", "text", 3, 32, 16),
      "bkey", numBuckets = 4)
    val before = BucketStore.get(name).buckets.map(_.length.toLong).sum
    assert(before === 3 * 16, s"3 indexed docs x 16 bands, got $before")
    Dedup.retireFromIndex(spark, lcDocs, "doc_id", "text", name,
      isDropped = col("doc_id") === 5L, n = 3, numHashes = 32, bands = 16)
    // compact already ran inside retireFromIndex: deletion state is
    // folded, and the PHYSICAL arrays hold exactly the surviving rows
    val t = BucketStore.get(name)
    assert(t.mor.isEmpty, "retire must leave no pending deletion vectors (compact folds them)")
    assert(t.buckets.map(_.length.toLong).sum === 2 * 16,
      "doc 5's 16 band rows must be physically gone after drop+compact")
    val pairs = Dedup.incrementalDedupPairs(spark, lcDocs, "doc_id", "text", name,
      isBatch, n = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((7L, 10L)),
      s"retired doc 5 must generate zero candidates; kept doc 7 must still pair: $pairs")
  }

  test("dup segments: shared tumbling segments counted per doc, unique docs score zero") {
    // 4-token segments; docs 1 and 2 share their first segment exactly,
    // doc 3 is unique throughout.
    val docs4 = Seq(
      (1L, "a b c d e f g h"), // segs: "a b c d", "e f g h"
      (2L, "a b c d x y z w"), // segs: "a b c d" (shared), "x y z w"
      (3L, "p q r s t u v m")).toDF("doc_id", "text")
    val got = Dedup.dupSegments(docs4, "doc_id", "text", segTokens = 4)
      .select("doc_id", "n_segs", "n_dup_segs", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((2L, 1L, 0.5)))
    assert(got(3L) === ((2L, 0L, 0.0)))
  }

  test("dup segments: shared trailing PARTIALS are not duplicate-eligible (min match length)") {
    // both docs end in the same 1-token remnant "the" — a trivially
    // common short match that must NOT count as duplication
    val docs4 = Seq(
      (1L, "a b c d the"),
      (2L, "p q r s the")).toDF("doc_id", "text")
    val got = Dedup.dupSegments(docs4, "doc_id", "text", segTokens = 4)
      .select("doc_id", "n_segs", "n_dup_segs")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // the partial still counts in the denominator, never the numerator
    assert(got(1L) === ((2L, 0L)))
    assert(got(2L) === ((2L, 0L)))
  }

  test("dup segments plan: candidate generation is an equi-join, never a cartesian") {
    val docs4 = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val plan = Dedup.dupSegments(docs4, "doc_id", "text", segTokens = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("containment: a quoted-whole doc scores 1.0 toward its container, asymmetric back") {
    val short = "alpha beta gamma delta epsilon"
    val long = "intro words here " + short + " trailing commentary words after quote end"
    val docs3 = Seq((1L, short), (2L, long),
      (9L, "completely different unrelated text body")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs3, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_contained", "id_container", "containment")
      .as[(Long, Long, Double)].collect()
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m((1L, 2L)) === 1.0, "every shingle of the quote appears in the container")
    assert(!m.contains((2L, 1L)), "the long doc is NOT contained in the short one at 0.5")
    assert(!got.exists(r => r._1 == 9L || r._2 == 9L))
    // candidate generation stays an equi-join
    val plan = Dedup.containmentPairs(docs3, "doc_id", "text", n = 3, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("cluster canonicalization keeps the highest-quality member, singletons keep themselves") {
    // docs 1-3 are a near-dup cluster (same trigrams); doc 2 is longest
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs3 = Seq(
      (1L, base),
      (2L, base + " iota"),
      (3L, base),
      (9L, "completely different words entirely here now today")).toDF("doc_id", "text")
    val got = Dedup.canonicalPerCluster(docs3, "doc_id", "text",
      n = 3, threshold = 0.8, quality = size(split(col("text"), " ")))
      .select("doc_id", "cluster_id", "canon_id", "kept")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 === 2L && !got(1L)._4) // canonical is the LONGEST, not min id
    assert(got(2L)._3 === 2L && got(2L)._4)
    assert(got(3L)._3 === 2L && !got(3L)._4)
    assert(got(9L)._2 === 9L && got(9L)._3 === 9L && got(9L)._4) // singleton
    // exactly one kept doc per cluster
    val byCluster = got.values.groupBy(_._2)
    assert(byCluster.values.forall(_.count(_._4) === 1))
  }

  test("canonicalization honors FRACTIONAL quality scores (no silent truncation)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs3 = Seq((1L, base), (2L, base), (3L, base)).toDF("doc_id", "text")
    // fractional score that INVERTS the id order: doc 3 is best
    val q = when(col("doc_id") === 3L, lit(0.9))
      .when(col("doc_id") === 2L, lit(0.5)).otherwise(lit(0.1))
    val got = Dedup.canonicalPerCluster(docs3, "doc_id", "text",
      n = 3, threshold = 0.8, quality = q)
      .select("doc_id", "canon_id").as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(3L), s"fractional ranking must pick doc 3: $got")
  }

  test("simhash rejects an out-of-range maxDist loudly") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      SimHash.nearDupPairs(df, "doc_id", "text", maxDist = 64)
    }
    assert(ex.getMessage.contains("maxDist"))
  }

  test("simhash near-dup pairs include planted near-dups and exclude unrelated") {
    val got = SimHash.nearDupPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 7)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 3L))) // exact copy → hamming 0
    assert(got.find(t => t._1 == 1L && t._2 == 3L).get._3 === 0)
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
  }

  test("corpus sketch algebra: sig(A ∪ B) = component-min of sig(A), sig(B)") {
    // the mergeability claim behind q210's "maintain incrementally as
    // shards land": a union's signature must be computable from the
    // shards' signatures alone, without revisiting elements
    import graft.functions.GraftFunctions.minhash
    val a = (1L to 40L).toDF("h")
    val b = (25L to 60L).map(_ * 7919L).toDF("h")
    def sig(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(minhash(col("h"), 16).as("s")).as[Seq[Long]].head()
    val merged = sig(a).zip(sig(b)).map { case (x, y) => math.min(x, y) }
    assert(sig(a.union(b)) === merged)
  }

  test("q217 streamed corpus signature is bit-identical to the batch sketch") {
    import graft.functions.{Fingerprint64, GraftFunctions, Mix64}
    val streamed = Dedup.streamCorpusMinhashQuery(spark, sf)
      .select("corpus", "i", "m").as[(String, Int, Long)].collect().toSet
    val batch = graft.tables.Tables.documents(spark, sf)
      .select(when(col("doc_id") % 10 === 0, lit("eval")).otherwise(lit("train")).as("corpus"),
        split(col("text"), " ").as("__w"))
      .filter(size(col("__w")) >= 3)
      .select(col("corpus"), explode(expr(
        "transform(sequence(0, size(__w) - 3), i -> array_join(slice(__w, i + 1, 3), ' '))"))
        .as("s"))
      .select(col("corpus"), Mix64(Fingerprint64(col("s"))).as("h"))
      .groupBy(col("corpus")).agg(GraftFunctions.minhash(col("h"), 64).as("sig"))
      .select(col("corpus"), posexplode(col("sig")).as(Seq("i", "m")))
      .as[(String, Int, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("q219 pair explanation ranks the RAREST shared shingle first, boilerplate last") {
    // docs 1,2: identical → a Jaccard-1.0 pair. Their text holds one
    // RARE trigram ("alpha beta gamma", df=2) and one BOILERPLATE
    // trigram ("terms of service", df=12). The explanation must lead
    // with the rare one.
    val filler = (1 to 10).map(i => (100L + i, s"terms of service filler$i padding$i"))
    val docs = (Seq(
      (1L, "alpha beta gamma terms of service"),
      (2L, "alpha beta gamma terms of service")) ++ filler)
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-explain").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.pairExplainQuery(spark, dir)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .select("rn", "shingle", "df").as[(Int, String, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty, "planted pair produced no explanation")
    assert(got.head._2 === "alpha beta gamma" && got.head._3 === 2L,
      s"rarest shared shingle must rank first: ${got.toSeq}")
    assert(!got.exists(r => r._2 === "terms of service" && r._1 === 1),
      s"boilerplate must not lead: ${got.toSeq}")
  }

  test("q227 source dup matrix: a planted mirror source tops the density ranking") {
    // mirror copies every real_a doc; unrelated is disjoint text
    val base = (1 to 4).map(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i", "real_a"))
    val mirror = (1 to 4).map(i => (100L + i, s"alpha$i beta$i gamma$i delta$i epsilon$i", "mirror"))
    val other = (1 to 6).map(i => (200L + i, s"zeta$i eta$i theta$i iota$i kappa$i", "real_b"))
    val docs = (base ++ mirror ++ other)
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-dupmatrix").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.sourceDupMatrixQuery(spark, dir)
      .select("src_lo", "src_hi", "n_pairs", "density_ppm")
      .as[(String, String, Long, Long)].collect()
    val top = got.maxBy(_._4)
    assert((top._1, top._2) === (("mirror", "real_a")), s"mirror pair must top: ${got.toSeq}")
    assert(top._3 === 4L && top._4 === 250000L, // 4 pairs / (4·4) = 0.25
      s"density arithmetic wrong: $top")
    assert(!got.exists(c => c._1.contains("real_b") || c._2.contains("real_b")),
      s"disjoint source must not appear: ${got.toSeq}")
  }

  test("q210 corpus overlap: output invariants and estimator bracketing") {
    val r = Dedup.corpusOverlapQuery(spark, sf).collect().head
    val (h, est, estMicro) = (r.getAs[Int]("h_funcs"),
      r.getAs[Long]("est_matches"), r.getAs[Long]("est_jacc_micro"))
    val (nTrain, nEval, nInter, nUnion, exactMicro) = (r.getAs[Long]("n_train"),
      r.getAs[Long]("n_eval"), r.getAs[Long]("n_inter"), r.getAs[Long]("n_union"),
      r.getAs[Long]("exact_jacc_micro"))
    assert(h === 64 && est >= 0 && est <= h)
    assert(nUnion === nTrain + nEval - nInter)
    assert(exactMicro === nInter * 1000000L / nUnion)
    // 64 components: est within ±4σ of exact (σ² = j(1−j)/64)
    val j = exactMicro / 1e6
    val sigma = math.sqrt(j * (1 - j) / h)
    assert(math.abs(estMicro / 1e6 - j) <= 4 * sigma,
      s"estimate ${estMicro / 1e6} implausibly far from exact $j (sigma $sigma)")
  }
}
