package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** S1/C1-C10 semantics: split-per-bucket, locality hints, pushdown
  * enforcement, snapshot check (SURVEY §5 item 2).
  */
class BucketedSourceSpec extends SparkSuite {

  private lazy val src = {
    BucketStore.ensureLoaded(spark, s"lineitem@$sf", sf, "lineitem", "l_orderkey", 16)
    spark.read.format("graft-buckets").option("table", s"lineitem@$sf").load()
  }

  test("round trip: connector read equals raw parquet read") {
    val viaSource = src.collect().map(_.toSeq).toSet
    val raw = graft.tables.Tables.lineitem(spark, sf).collect().map(_.toSeq).toSet
    assert(viaSource === raw)
    assert(viaSource.nonEmpty)
  }

  test("one Spark partition per bucket") {
    assert(src.rdd.getNumPartitions === 16)
  }

  test("every split carries its bucket's host list (locality)") {
    val scan = new BucketedScan(s"lineitem@$sf",
      BucketStore.get(s"lineitem@$sf").schema, Array.empty,
      BucketStore.get(s"lineitem@$sf").version)
    val parts = scan.planInputPartitions()
    assert(parts.length === 16)
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.preferredLocations().toSeq === BucketStore.hostsFor(i, 4))
    }
  }

  test("filter and column pruning are pushed into the scan") {
    val q = src.filter(col("l_quantity") >= 30.0 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft-buckets"))
    assert(plan.contains("l_quantity"), plan)
    // pushdown enforced, not just claimed: results match raw parquet
    val got = q.collect().map(_.toSeq).toSet
    val exp = graft.tables.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") >= 30.0 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity").collect().map(_.toSeq).toSet
    assert(got === exp)
  }

  test("co-partitioned join through the catalog has no Exchange on either side") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.bucketed.BucketedCatalog].getName)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    BucketStore.ensureLoaded(spark, s"lineitem@$sf", sf, "lineitem", "l_orderkey", 16)
    val l = spark.table(s"graft.`lineitem@$sf`").select("l_orderkey", "l_quantity")
    val r = spark.table(s"graft.`lineitem@$sf`").select("l_orderkey", "l_extendedprice")
    // merge hint: real reported stats would otherwise broadcast this
    // tiny table — the zero-Exchange SPJ path is what's under test
    val j = l.hint("merge").join(r, "l_orderkey")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // and the shuffle-free plan still computes the right thing
    val raw = graft.tables.Tables.lineitem(spark, sf)
    val expected = raw.select(col("l_orderkey"), col("l_quantity"))
      .join(raw.select(col("l_orderkey"), col("l_extendedprice")), "l_orderkey").count()
    assert(j.count() === expected)
  }

  test("pushed NOT/OR over NULL columns follow SQL three-valued logic") {
    // Catalyst infers IsNotNull alongside conjunctive null-intolerant
    // predicates (masking null bugs), but NOT for disjunctions — this
    // filter reaches the reader as Or(Not(EqualTo), GreaterThan) and
    // must drop rows where the Or evaluates to unknown.
    import spark.implicits._
    val df = Seq((1, Option("a"), 1), (2, None: Option[String], 1),
      (3, Option("b"), 1), (4, None: Option[String], 9)).toDF("id", "v", "w")
    BucketStore.load(spark, "nulls_t", df, "id", 4)
    val s = spark.read.format("graft-buckets").option("table", "nulls_t").load()
    val q = s.filter(col("v") =!= "a" || col("w") > 5).select("id")
    // the disjunction must be fully consumed by the source (no residual
    // Filter) — otherwise this test proves nothing about FilterEval
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[Or("), plan)
    // a residual Filter renders as "+- Filter (...)", "*(1) Filter (...)"
    // or, for a lone non-binary predicate, "*(1) Filter isnotnull(x)" —
    // match the space-padded operator name to catch every form
    assert(!plan.contains(" Filter "), plan)
    val got = q.as[Int].collect().toSet
    val exp = df.filter(col("v") =!= "a" || col("w") > 5)
      .select("id").as[Int].collect().toSet
    assert(got === exp) // SQL semantics baseline (plain DataFrame)
    assert(got === Set(3, 4)) // id=2 (NULL, w=1) → unknown OR false → dropped
  }

  test("aggregate pushdown: global and grouped COUNT/MIN/MAX match the DataFrame baseline") {
    import spark.implicits._
    val df = Seq((1, Option("a"), 10), (2, None: Option[String], 5),
      (3, Option("b"), 7), (4, None: Option[String], 9)).toDF("id", "v", "w")
    BucketStore.load(spark, "agg_t", df, "id", 4)
    val s = spark.read.format("graft-buckets").option("table", "agg_t").load()

    // global (no GROUP BY): COUNT(*) counts rows, COUNT(v) skips nulls
    val global = s.agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
      min(col("w")).as("lo"), max(col("w")).as("hi"))
    val gp = global.queryExecution.executedPlan.toString
    assert(gp.contains("pushedAggs=[COUNT(*), COUNT(v), MIN(w), MAX(w)]"), gp)
    assert(global.as[(Long, Long, Int, Int)].head() === ((4L, 2L, 5, 10)))

    // grouped: one partial row per (bucket, group), merged by Spark
    val grouped = s.groupBy(col("v")).agg(count(lit(1)).as("n"), max(col("w")).as("hi"))
      .orderBy(col("v"))
    assert(grouped.queryExecution.executedPlan.toString.contains("groupBy=[v]"))
    assert(grouped.collect().map(_.toSeq).toSeq ===
      df.groupBy(col("v")).agg(count(lit(1)), max(col("w"))).orderBy(col("v"))
        .collect().map(_.toSeq).toSeq)

    // empty table: the no-group contract must still produce count=0
    BucketStore.load(spark, "agg_empty", df.filter(col("id") > 100), "id", 4)
    val e = spark.read.format("graft-buckets").option("table", "agg_empty").load()
      .agg(count(lit(1)).as("n"), min(col("w")).as("lo"))
    assert(e.as[(Long, Option[Int])].head() === ((0L, None)))
  }

  test("aggregate pushdown declines what the reader cannot do exactly (AVG, DISTINCT, decimal SUM)") {
    import spark.implicits._
    val df = Seq((1, 10), (2, 5)).toDF("id", "w")
    BucketStore.load(spark, "agg_decl", df, "id", 2)
    val s = spark.read.format("graft-buckets").option("table", "agg_decl").load()
    // a DISTINCT alongside any agg declines the whole pushdown
    val q = s.agg(sum(col("w")).as("sw"), count_distinct(col("w")).as("dw"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("pushedAggs="), p) // declined: Spark reads raw rows
    assert(q.as[(Long, Long)].head() === ((15L, 2L)))
    // decimal SUM stays with Spark (overflow discipline)
    val dec = Seq((1, BigDecimal("1.50")), (2, BigDecimal("2.25"))).toDF("id", "d")
    BucketStore.load(spark, "agg_dec", dec, "id", 2)
    val sd = spark.read.format("graft-buckets").option("table", "agg_dec").load()
    val qd = sd.agg(sum(col("d")).as("sd"))
    assert(!qd.queryExecution.executedPlan.toString.contains("pushedAggs="),
      "decimal SUM must not push")
    assert(qd.head().getDecimal(0).compareTo(new java.math.BigDecimal("3.75")) === 0)
  }

  test("SUM pushdown: long and double partials match the DataFrame baseline") {
    import spark.implicits._
    val df = Seq(
      (1, 10L, 1.5, Option(3)), (2, 5L, 2.25, None),
      (3, -7L, -0.75, Option(4)), (4, 100L, 0.0, None),
      (5, 1L, 10.5, Option(1))).toDF("id", "l", "d", "oi")
    BucketStore.load(spark, "agg_sum", df, "id", 4)
    val s = spark.read.format("graft-buckets").option("table", "agg_sum").load()
    // global: sum(long), sum(double), sum(nullable int → long), count
    val g = s.agg(sum(col("l")).as("sl"), sum(col("d")).as("sd"),
      sum(col("oi")).as("si"), count(lit(1)).as("n"))
    val gp = g.queryExecution.executedPlan.toString
    assert(gp.contains("pushedAggs=[SUM(l), SUM(d), SUM(oi), COUNT(*)]"), gp)
    assert(g.collect().map(_.toSeq).toSeq ===
      df.agg(sum(col("l")), sum(col("d")), sum(col("oi")), count(lit(1)))
        .collect().map(_.toSeq).toSeq)
    // grouped, including a group whose nullable column is all-null
    // (its pushed SUM partial must stay NULL, not 0)
    val grouped = s.groupBy((col("id") % 2).as("g"))
      .agg(sum(col("l")).as("sl"), sum(col("oi")).as("si")).orderBy(col("g"))
    val base = df.groupBy((col("id") % 2).as("g"))
      .agg(sum(col("l")).as("sl"), sum(col("oi")).as("si")).orderBy(col("g"))
    assert(grouped.collect().map(_.toSeq).toSeq === base.collect().map(_.toSeq).toSeq)
    // empty table: global sum is NULL, count is 0 — through the merge
    BucketStore.load(spark, "agg_sum_empty", df.filter(col("id") > 100), "id", 4)
    val e = spark.read.format("graft-buckets").option("table", "agg_sum_empty").load()
      .agg(count(lit(1)).as("n"), sum(col("l")).as("sl"))
    assert(e.as[(Long, Option[Long])].head() === ((0L, None)))
  }

  test("pushed MIN/MAX and filters survive NaN/Infinity doubles (Spark NaN ordering)") {
    import spark.implicits._
    val df = Seq(
      (1, 1.5, "a"), (2, Double.NaN, "a"), (3, Double.PositiveInfinity, "b"),
      (4, Double.NegativeInfinity, "b"), (5, -0.0, "a"), (6, 42.0, "b"))
      .toDF("id", "d", "g")
    BucketStore.load(spark, "nan_t", df, "id", 4)
    val s = spark.read.format("graft-buckets").option("table", "nan_t").load()
    // pushed MIN/MAX over a column containing NaN/Inf must not crash
    // and must agree with Spark's unpushed answer (NaN sorts largest)
    // NaN != NaN under value equality — compare rendered rows instead
    def rows(q: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      q.collect().toSeq.map(_.toSeq.map(String.valueOf))
    val g = s.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    assert(g.queryExecution.executedPlan.toString.contains("pushedAggs=[MIN(d), MAX(d)]"))
    assert(rows(g) === rows(df.agg(min(col("d")), max(col("d")))))
    val grouped = s.groupBy(col("g")).agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .orderBy(col("g"))
    assert(rows(grouped) ===
      rows(df.groupBy(col("g")).agg(min(col("d")), max(col("d"))).orderBy(col("g"))))
    // pushed comparison filters against NaN rows follow Spark semantics
    // (NaN > 1.0 is true) instead of crashing in the comparator
    val f = s.filter(col("d") > 1.0).select(col("id"))
    assert(f.as[Int].collect().toSet ===
      df.filter(col("d") > 1.0).select(col("id")).as[Int].collect().toSet)
  }

  test("pushed aggregate groups keys as Spark does: one partial per NaN, ±0.0 and binary group") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("d", DoubleType), StructField("b", BinaryType), StructField("w", LongType)))
    // two NaN bit patterns, both zeros, and a fresh array per binary key
    val ds = Seq(Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000123L), -0.0, 0.0, 1.5)
    val rows = (0 until 60).map(i =>
      Row(i, ds(i % ds.length), Array[Byte]((i % 3).toByte, 7), (i * 10).toLong))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    BucketStore.load(spark, "agg_keys", df, "id", 2)
    val t = BucketStore.get("agg_keys")
    val s = spark.read.format("graft-buckets").option("table", "agg_keys").load()
    def render(q: org.apache.spark.sql.DataFrame): Seq[String] =
      q.collect().toSeq.map(_.toSeq.map {
        case a: Array[Byte] => a.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("|")).sorted
    Seq("d", "b").foreach { key =>
      // per bucket: the partials emitted equal Spark's groups among the
      // bucket's own rows
      (0 until 2).foreach { bucket =>
        val spec = AggSpec(Seq(AggSpec.PCountStar, AggSpec.PSum("w")), Seq(key), t.schema)
        val reader = new BucketedAggPartitionReader(
          BucketInputPartition("agg_keys", bucket, BucketStore.hostsFor(bucket, 4).toArray, t.version),
          spec, Array.empty, 1000)
        var partials = 0
        try while (reader.next()) partials += 1 finally reader.close()
        val own = BucketStore.folded(t, bucket).rows.toSeq
        val groups = spark.createDataFrame(spark.sparkContext.parallelize(own, 1), t.schema)
          .groupBy(key).count().count()
        assert(partials.toLong === groups, s"bucket $bucket keyed by $key")
      }
      val q = s.groupBy(key).agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(s"groupBy=[$key]"), plan)
      assert(render(q) === render(df.groupBy(key).agg(count(lit(1)), sum(col("w")))))
    }
  }

  test("empty bucket-prune × global aggregate returns 0, not NULL") {
    import org.apache.spark.sql.sources.EqualTo
    import spark.implicits._
    val df = (1 to 40).map(i => (i, i * 10)).toDF("id", "w")
    BucketStore.load(spark, "prune0_t", df, "id", 4)
    val t = BucketStore.get("prune0_t")
    // values grouped by owning bucket, so disjointness is constructed,
    // not assumed
    val byBucket = (1 to 200).groupBy(i => BucketFunction.bucketFor(i, 4).get)
    // unit level: disjoint key equalities prune every bucket; the agg
    // path keeps one partition alive so the count=0 row survives
    val disjoint: Array[org.apache.spark.sql.sources.Filter] =
      Array(EqualTo("id", byBucket(0).head), EqualTo("id", byBucket(1).head))
    assert(BucketSplits.plan("prune0_t", disjoint, t.version).isEmpty)
    assert(BucketSplits.plan("prune0_t", disjoint, t.version, keepOneWhenPruned = true)
      .length === 1)
    // e2e: two-element INs with provably disjoint bucket sets (single-
    // element INs would fold to EqualTo and constant-propagate to false
    // before reaching the source)
    val aVals = byBucket(0).take(2)
    val bVals = byBucket(1).take(2)
    val s = spark.read.format("graft-buckets").option("table", "prune0_t").load()
    val q = s.filter(col("id").isin(aVals: _*) && col("id").isin(bVals: _*))
      .agg(count(lit(1)).as("n"))
    // the pushed-agg scan planned (not Spark's empty-relation shortcut)
    assert(q.queryExecution.executedPlan.toString.contains("pushedAggs=[COUNT(*)]"),
      q.queryExecution.executedPlan.toString)
    assert(q.as[Long].head() === 0L, "COUNT(*) over a fully-pruned scan must be 0, not NULL")
  }

  test("limit pushdown: LIMIT stops the page stream early") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("id", "v")
    BucketStore.load(spark, "limit_t", df, "id", 4)
    def scan = spark.read.format("graft-buckets")
      .option("table", "limit_t").option("fetchsize", "2").load()
    // full drain for the page baseline — collect(), NOT count():
    // count() plans a pushed COUNT(*) that the stats-only fast path
    // (q254) now answers with ZERO pages
    val before = HostConnection.roundTripCount.get()
    assert(scan.collect().length === 100)
    val fullPages = HostConnection.roundTripCount.get() - before
    assert(fullPages >= 50, s"baseline: 100 rows / fetchsize 2 → ≥50 pages, got $fullPages")
    val q = scan.limit(5)
    assert(q.queryExecution.executedPlan.toString.contains("pushedLimit=5"),
      q.queryExecution.executedPlan.toString)
    val before2 = HostConnection.roundTripCount.get()
    assert(q.collect().length === 5)
    val limitPages = HostConnection.roundTripCount.get() - before2
    assert(limitPages <= 12,
      s"pushed LIMIT 5 must stop the page stream (≤3 pages/bucket), fetched $limitPages")
  }

  test("TopN pushdown: per-bucket bounded heap matches the full sort, nulls ordered") {
    import spark.implicits._
    val df = Seq(
      (1, Option(5.0), "a"), (2, None: Option[Double], "b"), (3, Option(9.0), "c"),
      (4, Option(-1.0), "d"), (5, Option(9.0), "e"), (6, None: Option[Double], "f"),
      (7, Option(0.5), "g"), (8, Option(7.25), "h")).toDF("id", "d", "v")
    BucketStore.load(spark, "topn_t", df, "id", 4)
    val s = spark.read.format("graft-buckets").option("table", "topn_t").load()
    // DESC (nulls last by default) with unique tie-break → deterministic
    val q = s.orderBy(col("d").desc, col("id").asc).limit(3).select("id")
    assert(q.queryExecution.executedPlan.toString.contains(
      "pushedTopN=[d DESC NULLS LAST, id ASC NULLS FIRST] nRows=3"),
      q.queryExecution.executedPlan.toString)
    assert(q.as[Int].collect().toSeq ===
      df.orderBy(col("d").desc, col("id").asc).limit(3).select("id").as[Int].collect().toSeq)
    // ASC (nulls first by default): the heap must keep the null rows
    val q2 = s.orderBy(col("d").asc, col("id").asc).limit(3).select("id")
    assert(q2.queryExecution.executedPlan.toString.contains("NULLS FIRST"), "asc nulls first")
    assert(q2.as[Int].collect().toSeq ===
      df.orderBy(col("d").asc, col("id").asc).limit(3).select("id").as[Int].collect().toSeq)
  }

  test("runtime bucket pruning: a selective broadcast dim prunes fact readers at runtime") {
    import spark.implicits._
    val fact = (1 to 400).map(i => (i.toLong, i % 7)).toDF("k", "payload")
    BucketStore.load(spark, "rf_fact", fact, "k", 8)
    val s = spark.read.format("graft-buckets").option("table", "rf_fact").load()
    // the dim must be a real source (a LocalRelation would constant-
    // fold the predicate away and DPP needs a Filter to latch onto)
    val tmp = s"/tmp/graft_rf_dim_${spark.sparkContext.applicationId}"
    (1 to 400).map(i => (i.toLong, if (i == 42) "pick" else "other"))
      .toDF("dk", "tag").write.mode("overwrite").parquet(tmp)
    val dim = spark.read.parquet(tmp)
    val j = s.join(broadcast(dim.filter(col("tag") === "pick")), col("k") === col("dk"))
    ConnectionPool.reset()
    val rows = j.collect()
    assert(rows.length === 1 && rows.head.getAs[Long]("k") === 42L)
    // the runtime filter is attached to the scan...
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1500))
    // ...and it pruned the dialing: only the owning bucket's reader
    // opened a connection (8 readers without runtime pruning)
    val (created, reused) = ConnectionPool.stats
    assert(created + reused <= 2,
      s"runtime pruning should open ~1 bucket reader, opened ${created + reused}\n${plan.take(1500)}")
  }

  test("q168 store ANN: a single query's probes dial only their buckets") {
    import graft.operators.Similarity
    // fresh table: embeddings bucketed BY IVF list id (nlist = buckets)
    val emb = graft.tables.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
    val name = "ivf_ann_spec"
    if (!BucketStore.exists(name))
      BucketStore.load(spark,
        name, Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .select(col("cent_id"), col("id"), col("vec")),
        "cent_id", 16)
    val store = spark.read.format("graft-buckets").option("table", name).load()
    val q1 = emb.filter(col("vec_id") === 42)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = Similarity.probeCentroids(q1, cents, nprobe = 4)
      .withColumnRenamed("cent_id", "p_cent")
    val j = store.join(broadcast(probes), col("cent_id") === col("p_cent"))
    ConnectionPool.reset()
    val n = j.count()
    assert(n > 0)
    // 4 probed lists → only their owning buckets are OPENED at all.
    // The robust metric is TOTAL touches (created + reused = readers
    // opened — measured 5-6 incl. an AQE re-touch, vs 16+ unpruned);
    // the created/reused SPLIT is task-overlap timing (two concurrent
    // tasks on one host both dial before either returns — observed as
    // a rare full-suite flake), so creations only get the same
    // ceiling, not a tighter one.
    val plan = j.queryExecution.executedPlan.toString
    val (created, reused) = ConnectionPool.stats
    assert(created + reused <= 12,
      s"total bucket touches must stay under the unpruned 16, created=$created reused=$reused\n${plan.take(2500)}")
    assert(plan.toLowerCase.contains("dynamicpruning") || plan.contains("RuntimeFilters: [isnotnull"),
      s"runtime filter not attached:\n${plan.take(1200)}")
  }

  test("q169 posting index: a one-term query dials only the token's bucket") {
    import graft.functions.Fingerprint64
    val tf = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val name = "postings_spec"
    if (!BucketStore.exists(name))
      BucketStore.load(spark, name,
        tf.select(Fingerprint64(col("tok")).as("tok_fp"), col("tok"),
          col("doc_id"), col("tf")), "tok_fp", 16)
    val index = spark.read.format("graft-buckets").option("table", name).load()
    val one = tf.filter(col("tok") === "vector").limit(1)
      .select(col("tok").as("q_tok"), Fingerprint64(col("tok")).as("q_fp"))
    val j = index.join(broadcast(one),
      col("tok_fp") === col("q_fp") && col("tok") === col("q_tok"))
    ConnectionPool.reset()
    assert(j.count() > 0)
    val (created, reused) = ConnectionPool.stats
    // total touches, not the timing-dependent created/reused split
    // (see the q168 test's note)
    assert(created + reused <= 2,
      s"one term → one owning bucket's reader (+AQE re-touch), created=$created reused=$reused")
  }

  test("reported statistics: catalog knows real row counts, small tables auto-broadcast") {
    import spark.implicits._
    val dim = (1 to 50).map(i => (i.toLong, s"name$i")).toDF("pk", "pname")
    BucketStore.load(spark, "stats_dim", dim, "pk", 4)
    val d = spark.read.format("graft-buckets").option("table", "stats_dim").load()
    // the relation's stats are the store's truth, not defaultSizeInBytes
    // = "assume huge" (which would veto every auto-broadcast)
    val stats = d.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10L * 1024 * 1024,
      s"expected a small, real size estimate, got ${stats.sizeInBytes}")
    assert(stats.rowCount.forall(_ == BigInt(50)), s"rowCount=${stats.rowCount}")
    // consequence: joining the big fact on a NON-bucket key (no SPJ
    // possible) picks a broadcast join with no explicit hint
    val j = src.join(d, col("l_partkey") === col("pk"))
    assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      j.queryExecution.executedPlan.toString.take(900))
    assert(j.count() > 0)
  }

  test("FilterEval tri-state truth table over a NULL operand") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", StringType, nullable = true),
      StructField("w", IntegerType, nullable = false)))
    val nullRow = Row(null, 1)
    def e(f: Filter, r: Row = nullRow): Boolean = FilterEval.eval(schema, f, r)
    // unknown drops the row through every connective
    assert(!e(EqualTo("v", "a")))
    assert(!e(Not(EqualTo("v", "a")))) // THE bug: used to emit
    assert(!e(Or(Not(EqualTo("v", "a")), LessThan("w", 0))))
    assert(!e(And(Not(EqualTo("v", "a")), GreaterThan("w", 0))))
    assert(!e(In("v", Array("a", "b"))))
    assert(!e(Not(In("v", Array("a", "b")))))
    assert(!e(StringStartsWith("v", "a")))
    // definite values still work
    assert(e(IsNull("v")))
    assert(!e(IsNotNull("v")))
    assert(!e(EqualNullSafe("v", "a"))) // NULL <=> 'a' is false, not unknown
    assert(e(Not(EqualNullSafe("v", "a")))) // so its negation is TRUE
    assert(e(Or(IsNull("v"), EqualTo("v", "zzz"))))
    val row = Row("abc", 7)
    assert(e(Not(EqualTo("v", "x")), row))
    assert(e(And(StringContains("v", "b"), GreaterThan("w", 5)), row))
    assert(!e(Not(StringEndsWith("v", "c")), row))
  }

  test("MVCC: a reader pinned to an unretained version fails loudly, never reads another snapshot") {
    val t = BucketStore.get(s"lineitem@$sf")
    // a version below the table's first retained snapshot (global
    // counter: it belongs to another table or to nothing)
    val unretained = BucketInputPartition(s"lineitem@$sf", 0, Array("host-0"),
      BucketStore.retained(s"lineitem@$sf").head - 1)
    val ex = intercept[IllegalArgumentException] {
      new BucketedPartitionReader(unretained, t.schema, Array.empty)
    }
    assert(ex.getMessage.contains("not retained"))
  }

  test("bucket pruning: a point lookup on the key plans exactly one partition") {
    import spark.implicits._
    val raw = graft.tables.Tables.lineitem(spark, sf)
    val k = raw.select("l_orderkey").as[Long].head()
    val q = src.filter(col("l_orderkey") === k)
    assert(q.rdd.getNumPartitions === 1, "point lookup must touch only the owning bucket")
    val got = q.collect().map(_.toSeq).toSet
    val exp = raw.filter(col("l_orderkey") === k).collect().map(_.toSeq).toSet
    assert(got === exp)
    assert(got.nonEmpty)
    // IN over two keys → at most two buckets, same rows
    val k2 = raw.select("l_orderkey").distinct().as[Long].sort(col("l_orderkey").desc).head()
    val qin = src.filter(col("l_orderkey").isin(k, k2))
    assert(qin.rdd.getNumPartitions <= 2)
    assert(qin.collect().map(_.toSeq).toSet ===
      raw.filter(col("l_orderkey").isin(k, k2)).collect().map(_.toSeq).toSet)
  }

  test("bucket pruning stays conservative: ranges and non-key equality scan all buckets") {
    val ranged = src.filter(col("l_orderkey") > 10L)
    assert(ranged.rdd.getNumPartitions === 16, "a range cannot bound hash buckets")
    val otherCol = src.filter(col("l_quantity") === 30.0)
    assert(otherCol.rdd.getNumPartitions === 16, "equality on a non-key column must not prune")
  }

  test("C6 failover: primary host down, the read completes via the replica") {
    try {
      BucketServers.kill("host-0") // primary of buckets 0,4,8,12; replica of 3,7,11,15
      val got = src.collect().map(_.toSeq).toSet
      val raw = graft.tables.Tables.lineitem(spark, sf).collect().map(_.toSeq).toSet
      assert(got === raw, "failover read must still return every row exactly once")
    } finally BucketServers.revive("host-0")
  }

  test("C6 failover: read fails loudly when every replica of a bucket is down") {
    val t = BucketStore.get(s"lineitem@$sf")
    try {
      BucketServers.kill("host-0"); BucketServers.kill("host-1")
      val part = BucketInputPartition(s"lineitem@$sf", 0, Array("host-0", "host-1"), t.version)
      val ex = intercept[java.io.IOException] {
        new BucketedPartitionReader(part, t.schema, Array.empty)
      }
      assert(ex.getMessage.contains("all replicas"))
    } finally { BucketServers.revive("host-0"); BucketServers.revive("host-1") }
  }

  test("C7 pooling: a second scan reuses connections instead of dialing new ones") {
    ConnectionPool.reset()
    // coalesce(1) reads the 16 buckets sequentially in one task, so
    // borrow/release interleave deterministically: after the first scan
    // the pool holds one connection per host
    assert(src.coalesce(1).count() > 0)
    val (created1, _) = ConnectionPool.stats
    assert(created1 === 4, "one dialed connection per live host")
    assert(src.coalesce(1).count() > 0)
    val (created2, reused2) = ConnectionPool.stats
    assert(created2 === created1, "second scan must not dial any new connection")
    assert(reused2 >= 16, "second scan's 16 bucket reads must all come from the pool")
  }

  test("C9 metadata retry: one transient failure is absorbed, two propagate") {
    BucketStore.injectTransientFailures(1)
    assert(BucketStore.getWithRetry(s"lineitem@$sf").schema.nonEmpty) // retry absorbs it
    BucketStore.injectTransientFailures(2)
    intercept[java.io.IOException] { BucketStore.getWithRetry(s"lineitem@$sf") }
    BucketStore.injectTransientFailures(0)
  }

  test("C8 options: unknown keys and malformed values are rejected loudly") {
    val unknown = intercept[Exception] {
      spark.read.format("graft-buckets")
        .option("table", s"lineitem@$sf").option("fechsize", "10").load()
    }
    assert(unknown.getMessage.contains("unknown option") &&
      unknown.getMessage.contains("fechsize") && unknown.getMessage.contains("fetchsize"),
      unknown.getMessage)
    val bad = intercept[Exception] {
      spark.read.format("graft-buckets")
        .option("table", s"lineitem@$sf").option("fetchsize", "zero").load()
    }
    assert(bad.getMessage.contains("positive integer"), bad.getMessage)
    val mismatch = intercept[Exception] {
      spark.read.format("graft-buckets")
        .option("table", s"lineitem@$sf").option("numpartitions", "7").load().count()
    }
    assert(mismatch.getMessage.contains("bucket-pinned") ||
      mismatch.getCause != null && mismatch.getCause.getMessage.contains("bucket-pinned"),
      mismatch.getMessage)
  }

  test("C8 mid-stream host loss: the page after a kill fails; a drain costs ⌈rows/fetchsize⌉ trips") {
    import spark.implicits._
    BucketStore.load(spark, "midstream_t", (1 to 40).map(i => (i, s"v$i")).toDF("id", "v"), "id", 4)
    val t = BucketStore.get("midstream_t")
    def reader(bucket: Int) = new BucketedPartitionReader(
      BucketInputPartition("midstream_t", bucket, Array("host-0"), t.version), t.schema,
      Array.empty, fetchSize = 2)
    (0 until 4).foreach { bucket =>
      val n = BucketStore.folded(t, bucket).rows.length
      val before = HostConnection.roundTripCount.get()
      val r = reader(bucket)
      var read = 0
      try while (r.next()) read += 1 finally r.close()
      assert(read === n)
      assert(HostConnection.roundTripCount.get() - before === (n + 1) / 2,
        s"bucket $bucket: $n rows in pages of 2")
    }
    val bucket = (0 until 4).find(BucketStore.folded(t, _).rows.length >= 3).get
    val r = reader(bucket)
    try {
      val before = HostConnection.roundTripCount.get()
      assert(r.next() && r.next(), "the first page holds two rows")
      assert(HostConnection.roundTripCount.get() - before === 1)
      BucketServers.kill("host-0")
      val ex = intercept[java.io.IOException](r.next())
      assert(ex.getMessage.contains("lost mid-stream"), ex.getMessage)
      assert(HostConnection.roundTripCount.get() - before === 1, "a failed page is no round trip")
    } finally {
      BucketServers.revive("host-0")
      r.close()
    }
  }

  test("C8 fetchsize: rows stream in pages of the configured size") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v")
    BucketStore.load(spark, "page_t", df, "id", 4)
    val before = HostConnection.roundTripCount.get()
    val n = spark.read.format("graft-buckets")
      .option("table", "page_t").option("fetchsize", "1")
      .load().coalesce(1).count()
    assert(n === 4)
    val delta = HostConnection.roundTripCount.get() - before
    assert(delta === 4, s"fetchsize=1 over 4 rows must make 4 round trips, made $delta")
    // matching numpartitions passes validation
    assert(spark.read.format("graft-buckets")
      .option("table", "page_t").option("numpartitions", "4")
      .load().count() === 4)
  }
}
