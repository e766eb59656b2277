package graft

/** Plan-shape regression guards: the properties that make these
  * queries scale are asserted, not assumed. If a refactor silently
  * drops a pushdown or a broadcast, these fail before any benchmark
  * notices.
  */
class PlanAuditSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02: shipdate predicate reaches the parquet scan") {
    val p = plan("q02_pricing_summary")
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("LessThan(l_shipdate"), "shipdate filter not pushed")
  }

  test("q04: column pruning — scan reads only the 5 referenced columns + filter cols") {
    val p = plan("q04_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      readSchema)
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q30: the 6-way star join broadcasts every dimension chain") {
    val p = plan("q30_regional_revenue")
    val broadcasts = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
    // exactly one shuffle join side: lineitem⋈orders may be broadcast at
    // tiny SF; assert no cartesian anywhere
    assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("q27: pushed filters are consumed by the DSv2 scan (no residual Filter)") {
    val p = plan("q27_bucketed_pushdown")
    assert(p.contains("pushed=[") && p.contains("GreaterThanOrEqual(l_quantity,30.0)"), p)
    // residual filters render with tree prefixes and, for a lone
    // non-binary predicate, WITHOUT parentheses ("*(1) Filter
    // isnotnull(x)") — match the space-padded operator name
    assert(!p.contains(" Filter "), "filters should be fully consumed by the source")
  }

  test("q46: pivot plans as aggregation only, no explode/join") {
    // Spark's pivot is two HashAggregates: (rf, ls) partials, then a
    // pivotfirst over |groups| rows — the second exchange carries
    // groups, not input. Joins or explodes here would mean the pivot
    // degraded to a manual reshape.
    val p = plan("q46_pivot")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"pivot should need at most two shuffles, got $exchanges\n${p.take(800)}")
    assert(!p.contains("Join"), "pivot must not plan a join")
    assert(!p.contains("Expand"), "explicit value list should avoid Expand")
  }

  test("q54: stream-static enrichment runs with ZERO stateful operators") {
    // run the REAL streaming query and read the state-operator count
    // off its final progress — a batch stand-in plan could never
    // contain state and would make this assertion vacuous
    val df = graft.streaming.StreamOps.streamStaticJoin(spark, sf)
    assert(df.count() > 0)
    assert(graft.streaming.StreamOps.lastStateOperatorCount === 0,
      s"enrichment join must be stateless, saw ${graft.streaming.StreamOps.lastStateOperatorCount} state operators")
    // positive control: a windowed aggregation DOES carry state
    graft.streaming.StreamOps.hourlyWindowAgg(spark, sf).count()
    assert(graft.streaming.StreamOps.lastStateOperatorCount === 1)
  }

  test("q56: typed closures do not break scan column pruning") {
    val p = plan("q56_typed_pipeline")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && !readSchema.contains("o_orderpriority"),
      s"typed pipeline should scan only the 3 selected columns: $readSchema")
  }

  test("q38: as-of join is one key shuffle, no join operator at all") {
    val p = plan("q38_asof_join")
    assert(!p.contains("Join"), "union-and-carry must not plan a join")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"as-of should shuffle once on the key, got $exchanges")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), "carry window missing")
  }

  test("q39: range join stays an equi-join — no nested loop, no cartesian") {
    val p = plan("q39_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n${p.take(600)}")
  }

  test("q18: embedding near-dup is LSH equi-join — no nested loop, no cartesian") {
    val p = plan("q18_dedup_cosine")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"embedding dedup degraded to an all-pairs scan:\n${p.take(600)}")
  }

  test("q33: IVF centroid assignment is map-side — only probe + top-k windows remain") {
    // the assignment argmax folds over a broadcast centroid array; a
    // third Window here would mean it regressed to the n·nlist
    // shuffle-and-rank formulation
    val p = plan("q33_ivf_knn")
    val windows = p.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 2, s"expected <=2 windows (probe ranking, final top-k), got $windows")
  }

  test("q86: semantic-dedup pair generation is a cent_id equi-join — no cartesian") {
    // the final q86 frame is post-checkpoint (connected components cut
    // lineage), so audit the candidate-pair stage the way semDedup
    // builds it: map-side IVF assign, then the within-cluster self-join
    import org.apache.spark.sql.functions._
    // cached frames from other suites (ivfKnn) would splice an
    // InMemoryRelation — whose stored plan text double-counts joins —
    // into this plan; audit the uncached shape
    spark.catalog.clearCache()
    val emb = graft.tables.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val assigned = graft.operators.Similarity.ivfAssign(emb, "vec_id", "embedding",
      graft.operators.Similarity.sampleCentroids(emb, "vec_id", "embedding", 16))
    val pairs = assigned.as("a").join(assigned.as("b"),
      col("a.cent_id") === col("b.cent_id") && col("a.id") < col("b.id"))
    val p = pairs.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in semDedup pairs:\n${p.take(600)}")
    // the only nested-loop joins allowed are the two single-row
    // broadcast centroid attaches from ivfAssign
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected nested-loop join beyond the centroid attaches ($bnlj):\n${p.take(900)}")
    assert(p.contains("cent_id"), "candidate join no longer keyed on cent_id")
  }

  test("q87: co-bucketed as-of join plans ZERO Exchange end-to-end") {
    val p = plan("q87_asof_spj")
    assert(!p.contains("Exchange hashpartitioning"),
      s"as-of over the bucketed source should inherit KeyGroupedPartitioning:\n${p.take(900)}")
    assert(p.contains("Window"), "carry window missing")
  }

  test("q88: co-bucketed range join is a storage-partitioned join — ZERO Exchange") {
    val p = plan("q88_range_spj")
    assert(!p.contains("Exchange hashpartitioning"),
      s"range join over co-bucketed scans should SPJ (join keys superset of partition keys):\n${p.take(900)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "expected a partitioned equi-join")
  }

  test("q91: HLL rollup merges daily sketches — merge stage consumes sketch agg, not raw rows") {
    // the 100-TB contract: the coarse answer is a union of per-day
    // fixed-size sketch buffers, never a rescan/re-shuffle of raw user
    // ids. Physical plans print top-down, so the merging aggregate
    // (hll_union_agg) must appear ABOVE the daily sketch-building
    // aggregate (hll_sketch_agg) in the same plan.
    val p = plan("q91_hll_merge")
    val merge = p.indexOf("hll_union_agg")
    val daily = p.indexOf("hll_sketch_agg")
    assert(merge >= 0, s"merge stage missing hll_union_agg:\n${p.take(900)}")
    assert(daily >= 0, s"daily stage missing hll_sketch_agg:\n${p.take(900)}")
    assert(merge < daily, "hll_union_agg must sit above the daily sketch aggregate")
  }

  test("q80: sketch aggregates group on event_type only — never per user") {
    // Mixing count_distinct into the sketch aggregation triggers
    // Spark's distinct-rewrite into a 3-level plan keyed on
    // (event_type, user_id): one QuantileSummaries/HLL buffer PER
    // USER through two shuffles. The split shape keeps every
    // percentile/HLL aggregate level keyed on [event_type] alone.
    val p = plan("q80_sk")
    val offenders = p.linesIterator.filter { l =>
      (l.contains("percentile_approx") || l.contains("approx_count_distinct")) &&
        l.contains("keys=[") &&
        l.substring(l.indexOf("keys=["), l.indexOf("]", l.indexOf("keys=[")) + 1)
          .contains("user_id")
    }.toList
    assert(offenders.isEmpty,
      s"sketch aggregate level keyed on user_id:\n${offenders.mkString("\n")}")
    // and the exact count rides its own aggregation, joined back ON
    // event_type — pin an actual join operator line whose keys carry
    // event_type, not just the 'Join' substring anywhere in the plan
    val joinLine = p.linesIterator.find(l =>
      l.matches(""".*(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin).*event_type.*"""))
    assert(joinLine.isDefined,
      s"exact_users must join back on event_type, not mix in:\n${p.take(900)}")
  }

  test("q94: SUM partials are pushed into the DSv2 scan alongside COUNT/MAX") {
    val p = plan("q94_sumpd")
    assert(p.contains("SUM(l_quantity)") && p.contains("SUM(l_orderkey)"), p.take(1200))
    assert(p.contains("pushedAggs=["), p.take(1200))
    assert(p.contains("groupBy=[l_linestatus]"), p.take(1200))
    assert(p.contains("GreaterThanOrEqual(l_quantity,25.0)"), "filter must still push")
    assert(!p.contains(" Filter "), "no residual filter over the aggregated scan")
  }

  test("q95: ORDER BY + LIMIT runs as a pushed per-bucket TopN") {
    val p = plan("q95_topn")
    assert(p.contains("pushedTopN=[l_extendedprice DESC NULLS LAST, " +
      "l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST] nRows=25"), p.take(1200))
    // the global re-rank over buckets × n survivors must remain
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"), p.take(1200))
  }

  test("q96: the broadcast dim's runtime filter is attached to the bucket scan") {
    val p = plan("q96_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry the dim's runtime join-key filter:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("pushed LIMIT reaches the DSv2 scan") {
    val sfDir = sf
    graft.sources.bucketed.BucketStore.ensureLoaded(
      spark, s"lineitem@$sfDir", sfDir, "lineitem", "l_orderkey", 16)
    val q = spark.read.format("graft-buckets").option("table", s"lineitem@$sfDir").load()
      .select("l_orderkey", "l_quantity").limit(7)
    assert(q.queryExecution.executedPlan.toString.contains("pushedLimit=7"),
      q.queryExecution.executedPlan.toString.take(1200))
  }

  test("q93: COUNT/MIN/MAX are pushed into the DSv2 scan — no raw-row read") {
    val p = plan("q93_aggpd")
    // the scan itself advertises the pushed partial aggregate...
    assert(p.contains("pushedAggs=[COUNT(*), MIN(l_quantity), MAX(l_extendedprice), " +
      "MIN(l_linestatus)]"), p.take(1200))
    assert(p.contains("groupBy=[l_returnflag]"), p.take(1200))
    // ...and the filter rode down with it
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), "filter must still push")
    // Spark plans only the merge: the scan's output is already grouped,
    // so no per-row project/filter sits between scan and aggregate
    assert(!p.contains(" Filter "), "no residual filter over the aggregated scan")
  }

  test("q110: AVG is rewritten to pushed SUM+COUNT partials — no raw-row read") {
    val p = plan("q110_avg_pushdown")
    // AggSpec declines Avg; Spark's V2ScanRelationPushDown rewrites it
    // into SUM+COUNT and re-offers those — the scan must advertise the
    // rewritten pair (per column), grouped, with the filter pushed too
    assert(p.contains("pushedAggs=[SUM(l_quantity), COUNT(l_quantity), " +
      "SUM(l_orderkey), COUNT(l_orderkey), COUNT(*)]")
      || p.contains("SUM(l_quantity), COUNT(l_quantity)"), p.take(1500))
    assert(p.contains("groupBy=[l_returnflag]"), p.take(1500))
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"), "filter must still push")
    // the division happens Spark-side over partials; no avg reaches the scan
    assert(!p.toLowerCase.contains("pushedaggs=[avg"), p.take(1500))
  }

  test("q01: tokenize pipeline stays in whole-stage codegen") {
    // AQE's pre-execution plan string hides codegen stages — ask for
    // the codegen explain explicitly
    val qe = SparkEntry.queries("q01_wordcount")(spark, sf).queryExecution
    val p = qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(500))
  }

  test("q155: BM25 candidate generation is a broadcast token equi-join — no cartesian") {
    val p = plan("q155_bm25")
    assert(!p.contains("CartesianProduct"), s"cartesian in BM25:\n${p.take(600)}")
    // the query-term side and the 1-row stats frame broadcast; the
    // posting list must never shuffle into a nested loop. The only
    // BNLJ allowed is the single-row stats crossJoin attach.
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"BM25 grew nested-loop joins beyond the 1-row stats attach ($bnlj)")
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast into the posting list")
  }

  test("q169: store BM25 broadcasts the query terms into a runtime-filtered bucket scan") {
    val p = plan("q169_store_bm25")
    assert(!p.contains("CartesianProduct"), s"cartesian in store BM25:\n${p.take(600)}")
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"store BM25 grew nested-loop joins beyond the 1-row stats attach ($bnlj)")
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast into the posting index")
    // the term fingerprints must reach the graft-buckets scan as a
    // runtime filter so only term-owning buckets dial (the dial-count
    // behavior is asserted in BucketedSourceSpec; this pins the plan)
    assert(p.toLowerCase.contains("runtimefilters") || p.toLowerCase.contains("dynamicpruning"),
      s"no runtime filter on the posting-index scan:\n${p.take(1200)}")
  }

  test("q192: RRF fusion joins are equi-joins; the only broadcasts are bounded top-k sides") {
    val p = plan("q192_rrf_fusion")
    assert(!p.contains("CartesianProduct"), s"cartesian in RRF:\n${p.take(600)}")
    // BM25's 1-row stats attach + brute-force kNN's broadcast query
    // side are the only nested-loop shapes allowed
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"RRF grew nested-loop joins beyond the bounded attaches ($bnlj)")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "fusion must join the two rank lists on keys")
  }

  test("q199: the SCD2 build is ONE key shuffle — all windows and aggs reuse the user_id partitioning") {
    val p = plan("q199_scd2_intervals")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1,
      s"SCD2 must shuffle once on user_id; got $exchanges exchanges:\n${p.take(900)}")
    assert(!p.contains("Join"), "the gaps-and-islands build needs no join")
  }

  test("q200: image dHash dedup plans NO pair generation — no join, one aggregation chain") {
    val p = plan("q200_image_dhash")
    assert(!p.contains("Join"), s"dHash clustering must be a plain groupBy:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"), "no pairs, ever")
    // round 16: the hash frame is a STORED artifact — the consumer's
    // plan contains zero decode machinery (no typed mapPartitions pass)
    assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
      s"q200 must read the stored dHash artifact, not re-decode:\n${p.take(900)}")
  }

  test("q246: the cross-modal verdict reads STORED artifacts — zero decode machinery, equi-joins only") {
    val p = plan("q246_cross_modal_dedup")
    assert(!p.contains("MapPartitions") && !p.contains("SerializeFromObject"),
      s"q246 must consume the stored dHash artifact (decode runs once, at build):\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"), "pair generation must stay an equi-join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "the dhash self-join and verdict join are key joins")
  }

  test("q202: weighted PPS sampling is one per-stratum window over a narrow projection") {
    val p = plan("q202_weighted_sample")
    assert(!p.contains("Join"), s"PPS sampling must not join:\n${p.take(600)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"one shuffle on the stratum key; got $exchanges")
  }

  test("q198: the gated columnar scan plans a ColumnarToRow bridge over the pushed scan") {
    val p = plan("q198_columnar_pushdown")
    assert(p.contains("ColumnarToRow"),
      s"the q198 gate must actually plan columnar batches:\n${p.take(900)}")
    assert(p.contains("pushed=[") && p.contains("GreaterThanOrEqual(l_quantity,30.0)"),
      "the columnar path must keep q27's filter pushdown")
  }

  test("q156: PageRank supersteps are equi-joins — no cartesian, no nested loop on edges") {
    val p = plan("q156_pagerank")
    assert(!p.contains("CartesianProduct"), s"cartesian in PageRank:\n${p.take(600)}")
    // per superstep the only BNLJ is the 1-row node-count attach;
    // 5 supersteps + init = at most 6 (localCheckpoint cuts hide
    // earlier ones, so in practice the final frame shows 1)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 6, s"PageRank superstep joined edges with a nested loop ($bnlj)")
  }

  test("q175: triangle wedge and closing joins are equi-joins — no cartesian") {
    val p = plan("q175_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle counting grew a non-equi join:\n${p.take(800)}")
  }

  test("q182: kNN-graph pair generation is a cent_id equi-join — no cartesian") {
    val p = plan("q182_knn_graph")
    assert(!p.contains("CartesianProduct"), s"cartesian in kNN graph:\n${p.take(800)}")
    // only the bounded centroid attach may nested-loop (1-row /
    // nlist-row broadcast frames), never the data×data side
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj == 0, s"kNN graph joined data with a nested loop ($bnlj)")
  }

  test("q177: EWMA pair join is a user_id equi-join with the lag bound as residual") {
    val p = plan("q177_ewma_engagement")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"EWMA grew a non-equi join:\n${p.take(800)}")
  }

  test("q186: feature hashing is scan → hash → ONE aggregation exchange, no join") {
    val p = plan("q186_feature_hashing")
    assert(!p.contains("Join"), s"featurizer must not join:\n${p.take(600)}")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"featurizer grew $exchanges exchanges (want <= 1: the count agg)")
    assert(p.contains("graft_mix64") || p.contains("graft_fingerprint64"),
      "hash expressions must be native (codegen'd), not UDFs")
  }

  test("q193: sequence matching is one aggregation, no per-step self-joins") {
    val p = plan("q193_sequence_match")
    assert(!p.contains("Join"), s"CEP fold must not self-join per step:\n${p.take(600)}")
  }

  test("q157: the CMS estimate probe broadcasts the d*w sketch") {
    val p = plan("q157_cms_heavy")
    assert(!p.contains("CartesianProduct"), s"cartesian in CMS:\n${p.take(600)}")
    assert(p.contains("BroadcastHashJoin"),
      "the (r, bkt) sketch lookup must be a broadcast equi-join")
  }

  test("AQE coalesces a small aggregation's shuffle partitions at runtime") {
    // the 100 TB posture is static shuffle.partitions sized for the
    // big queries + AQE shrinking the small ones at runtime — verify
    // the second half actually happens: after execution, the adaptive
    // plan must read the shuffle through a coalesced AQEShuffleRead
    import org.apache.spark.sql.functions._
    val df = graft.tables.Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    df.collect() // AQE finalizes the plan only on execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"),
      s"AQE did not coalesce the 5-group shuffle:\n${p.take(800)}")
  }

  test("runtime bloom filter: a selective dim filter injects might_contain on the fact side") {
    // The third runtime-filtering lever next to static pushdown and
    // q96's DPP: when a shuffle join's build side is selective, Spark
    // injects a bloom filter into the probe side's scan stage so most
    // fact rows die before the shuffle. Local sf sizes sit under the
    // default thresholds, so lower them — the PLAN SHAPE is the
    // 100 TB-transferable evidence, exactly like the other pins here.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join shape
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val orders = graft.tables.Tables.orders(spark, sf)
        .filter(col("o_totalprice") > 500000.0) // highly selective build side
      val li = graft.tables.Tables.lineitem(spark, sf)
      val q = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("qty"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no bloom runtime filter injected:\n${p.take(1200)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q212: the NOT IN variants plan as null-aware anti joins, NOT EXISTS as a plain one") {
    val p = plan("q212_sql_null_anti")
    // BroadcastHashJoinExec renders its isNullAwareAntiJoin flag as the
    // trailing boolean: "LeftAnti, BuildRight, true|false"
    val naaj = p.linesIterator.count(_.contains("LeftAnti, BuildRight, true"))
    val plain = p.linesIterator.count(_.contains("LeftAnti, BuildRight, false"))
    assert(naaj === 2, s"both NOT IN variants must be null-aware anti joins, got $naaj:\n${p.take(900)}")
    assert(plain === 1, s"NOT EXISTS needs no null-awareness, got $plain")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "NOT IN must not degrade to a nested loop")
  }

  test("q224: the interval-overlap join is an equi-join on (key, bucket) — never a nested loop") {
    // the operator exists BECAUSE the naive overlap predicate plans a
    // BroadcastNestedLoopJoin; the bucketed formulation must keep an
    // equi-join shape with the range predicate as a residual
    val p = plan("q224_interval_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join degraded to a nested loop:\n${p.take(900)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "candidates must meet on an equi-key")
  }

  test("q221: the bootstrap is ONE aggregation pass over the replicate expansion — no join, no resample shuffle") {
    val p = plan("q221_bootstrap_ci")
    // the B=40 expansion is a Generate (explode) feeding partial
    // aggregation; a Join before the final small CI assembly would mean
    // resamples were materialized and shuffled
    assert(p.contains("Generate"), "replicate expansion missing")
    assert(!p.contains("CartesianProduct"), "no cartesian")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // reps agg (event_type, b), point agg, the CI window, and the two
    // tiny lo/hi assembly joins — every exchange after the partial
    // aggs carries group-cardinality rows, so the COUNT is what's
    // bounded, not the data
    assert(exchanges <= 6, s"bootstrap grew $exchanges shuffles:\n${p.take(900)}")
  }

  test("q210: corpus overlap reuses ONE distinct-hash shuffle for sketch, counts, and intersection") {
    // audit the LAZY frame: the gated query checkpoints the 1-row
    // result eagerly (to release the hash cache), which hides the
    // build plan behind a LogicalRDD — corpusOverlapFrame is the
    // pre-checkpoint shape the gate executes
    val (out, hashes) = graft.operators.Dedup.corpusOverlapFrame(spark, sf)
    try {
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), "only 1-row frames may cross-join")
      // the cached distinct (corpus, h) must feed every consumer — each
      // of the 4 reads (sketch ×2 sides, counts, intersection ×2 sides)
      // plans an InMemoryTableScan, never a fresh shingle recompute
      // (an InMemoryRelation still PRINTS its child's parquet path, so
      // the path count proves nothing; the cache-scan count does)
      val cacheScans = p.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(cacheScans >= 4, s"expected >=4 cache scans, got $cacheScans:\n${p.take(900)}")
    } finally hashes.unpersist()
  }

  test("q210: the gated query releases its hash cache before returning") {
    // the round-12 advisor finding: the lazy return had no release
    // point, so each invocation pinned the (corpus, hash) set for the
    // session. CacheManager matches by PLAN equality, so a template
    // copy of the hashes frame observes whether the query's own cache
    // entry is still registered after it returns.
    val (_, template) = graft.operators.Dedup.corpusOverlapFrame(spark, sf)
    template.unpersist() // drop OUR registration; only the query's can remain
    assert(graft.operators.Dedup.corpusOverlapQuery(spark, sf).collect().length === 1)
    assert(spark.sharedState.cacheManager
      .lookupCachedData(template.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty,
      "q210 left its (corpus, hash) cache registered after returning")
  }

  test("q231: the pair-artifact consumers read the STORE, never rebuild the shingle machinery") {
    val p = plan("q231_pair_artifact_audit")
    // one build (imperative, store-side, versioned), N reads: the
    // consuming plan must scan the stored artifact and contain ZERO
    // candidate-generation work — no shingle hashing (xxhash64), no
    // posting-list aggregation
    assert(!p.contains("xxhash64"), s"shingle machinery rebuilt in the consumer plan:\n${p.take(900)}")
    val storeScans = p.linesIterator.count(_.contains("jaccard_pairs@"))
    assert(storeScans >= 2, s"expected >=2 stored-artifact scans (pair + doc rollups), got $storeScans")
  }

  test("q219/q227/q228/q230: shared-artifact consumers plan store reads, not rebuilds") {
    // q219/q227 ride the jaccard_pairs artifact; q228/q230 the
    // knn_truth artifact. Each consumer's plan must read the store —
    // the 'materialize once, consume many' contract from round 12's
    // verdict (recompute-per-consumer was the flagged anti-pattern).
    assert(plan("q227_source_dup_matrix").contains("jaccard_pairs@"))
    assert(plan("q228_retrieval_eval").contains("knn_truth@"))
    assert(plan("q230_index_compare").contains("knn_truth@"))
    // q219 checkpoints the pair read (its audit needs the tiny pair
    // set thrice) — the artifact read happens before the checkpoint,
    // so pin it on the un-checkpointed source instead
    assert(graft.operators.Dedup.pairArtifact(spark, sf).queryExecution
      .executedPlan.toString.contains("jaccard_pairs@"))
  }

  test("q235: the drift monitor plans NO shuffle join — broadcast centroid arrays + map-side argmax only") {
    val p = plan("q235_quantizer_drift")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"drift errors must come from the argmax itself, never a join back to centroids:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q236/q237: the agreement and health gates are single-scan aggregations") {
    // one scan + partial/final aggregate per gate — the 'audit costs
    // one pass' claim as a plan shape
    Seq("q236_label_agreement", "q237_embedding_health").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n${p.take(600)}")
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2, s"$q grew $exchanges exchanges")
    }
  }

  test("q226: the curriculum EXPORT plans RangePartitioning — parallel global order, no single-partition sort") {
    val p = graft.operators.Pipelines.curriculumExportFrame(spark, sf, shards = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("Exchange rangepartitioning"),
      s"export must range-partition for a parallel total order:\n${p.take(900)}")
    assert(!p.contains("Exchange SinglePartition"),
      "a single-partition global sort would serialize the export")
  }

  test("round 17: an NTZ timestamp predicate is CLAIMED by the scan and the plan stays columnar") {
    import org.apache.spark.sql.functions.col
    import graft.sources.bucketed.BucketStore
    // l_shipdate is TIMESTAMP_NTZ (parquet micros, isAdjustedToUTC
    // unset): before round 17 its pushed literal (LocalDateTime) was
    // rejected by the claim check, leaving a residual Filter that
    // forced the vectorized cold path to bail — the dominant 100 TB
    // shape (WHERE + cold scan) row-materialized
    val name = "audit_ntz"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity")),
      "l_orderkey", 4)
    val df = spark.read.format("graft-buckets").option("table", name).load()
      .filter(col("l_shipdate") >= java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pushed=[") && p.contains("l_shipdate"), p.take(600))
    assert(!p.contains(" Filter "),
      s"the NTZ predicate must be claimed, not residual:\n${p.take(600)}")
    assert(p.contains("ColumnarToRow"),
      s"the filtered scan must stay columnar:\n${p.take(600)}")
    BucketStore.drop(name)
  }

  test("q208: MaxSim re-rank adds NO join beyond the single broadcast candidate pass") {
    val p = plan("q208_maxsim")
    assert(!p.contains("CartesianProduct"), s"cartesian in MaxSim:\n${p.take(600)}")
    // stage 1 is the one broadcast-queries nested loop (the q19 KNN
    // baseline shape); stage 2's m^2 sub-cosines must stay scalar
    // expressions on the survivors — any second join or an explode
    // means the re-rank degraded to a pair-blowup
    val joins = p.linesIterator.count(l =>
      l.contains("Join") && !l.contains("ReusedExchange"))
    assert(joins === 1, s"MaxSim must plan exactly 1 join (candidate pass), got $joins:\n${p.take(900)}")
    assert(!p.contains("Generate"), "re-rank must not explode sub-vectors into rows")
  }
}
