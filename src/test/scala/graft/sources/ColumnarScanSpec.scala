package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** The batch read path: hot pages as views of the stored rows and
  * cold buckets decoded straight from their block files, both
  * byte-identical to the store's own fold ([[ScanReference]], read
  * through no reader) across types, filters, pushdown, MoR state, and
  * metadata columns; a genuinely columnar plan (the scan feeds a
  * `ColumnarToRow` bridge); loud fallback rules (unsupported projected
  * type → row reader, never mid-scan).
  */
class ColumnarScanSpec extends SparkSuite {
  import spark.implicits._

  private def loadT(): Unit = synchronized {
    if (!BucketStore.exists("colr_t")) {
      // every 13th row nulls the nullable columns — the null bitmap
      // path of each vector filler is exercised, not just the values
      val df = (0 until 4096).map { i =>
        if (i % 13 == 0)
          (i.toLong, null.asInstanceOf[java.lang.Integer], null.asInstanceOf[java.lang.Double],
            null.asInstanceOf[String], null.asInstanceOf[java.lang.Boolean],
            null.asInstanceOf[java.sql.Timestamp])
        else
          (i.toLong, Integer.valueOf(i % 97), java.lang.Double.valueOf(i * 1.5), s"tag$i",
            java.lang.Boolean.valueOf(i % 2 == 0),
            new java.sql.Timestamp(1700000000000L + i * 1000L))
      }.toDF("k", "m", "v", "tag", "flag", "ts")
      BucketStore.load(spark, "colr_t", df, "k", 4)
    }
  }

  private def read() = spark.read.format("graft-buckets").option("table", "colr_t").load()

  private def fold(name: String) = ScanReference.fold(spark, name)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("columnar scan returns byte-identical rows across all supported types") {
    loadT()
    val got = rows(read())
    assert(got === rows(fold("colr_t")))
    assert(got.size === 4096)
  }

  test("the columnar plan really is columnar: ColumnarToRow above the scan") {
    loadT()
    val plan = read().filter(col("m") === 7).queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"the scan must plan a ColumnarToRow bridge:\n${plan.take(900)}")
  }

  test("pushdown, projection, and aggregation agree between the two paths") {
    loadT()
    def agg(df: org.apache.spark.sql.DataFrame) =
      rows(df.filter(col("m") < 10 && col("flag"))
        .groupBy(col("m")).agg(count(lit(1)).as("n"), sum(col("v")).as("s")))
    assert(agg(read()) === agg(fold("colr_t")))
  }

  test("merge-on-read state reads identically through the columnar path") {
    loadT()
    BucketStore.drop("colr_mor")
    BucketStore.load(spark, "colr_mor",
      (0 until 256).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), "k", 2)
    BucketStore.setDmlMode("colr_mor", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.colr_mor WHERE k % 16 = 0")
    spark.sql("UPDATE graft.colr_mor SET v = v + 1000 WHERE k % 16 = 1")
    val want = rows(fold("colr_mor"))
    assert(want.size === 240)
    assert(rows(spark.read.format("graft-buckets").option("table", "colr_mor").load()) === want)
  }

  test("a bucket larger than one batch reads across batch boundaries (vector reset path)") {
    // 10000 rows in ONE bucket = 3 ColumnarBatches per partition: the
    // second and third refill the reused page, which the 4-bucket
    // fixture (1024 rows/bucket) never reaches
    BucketStore.drop("colr_big")
    val df = (0 until 10000).map(i => (i.toLong, s"s$i", i * 0.5)).toDF("k", "s", "v")
    BucketStore.load(spark, "colr_big", df, "k", 1)
    def read() = spark.read.format("graft-buckets").option("table", "colr_big").load()
    assert(read().count() === 10000L)
    val got = read().agg(sum(col("k")), sum(col("v")), count(col("s"))).head()
    assert(got === Row((0L until 10000L).sum, (0 until 10000).map(_ * 0.5).sum, 10000L))
    // row identity across the boundary rows specifically
    val boundary = rows(read().filter(col("k").isin(4095L, 4096L, 8191L, 8192L, 9999L)))
    assert(boundary === Set(4095, 4096, 8191, 8192, 9999).map(i => Seq(i.toLong, s"s$i", i * 0.5)))
    assert(rows(read()) === (0 until 10000).map(i => Seq(i.toLong, s"s$i", i * 0.5)).toSet)
    // and COLD: the same >1-batch bucket through the DIRECT vectorized
    // reader (nextBatch loops over the file's pages) stays identical
    val want = rows(fold("colr_big"))
    BucketStore.evictTable("colr_big")
    val vr0 = FileStore.vectorReads.get()
    val cold = rows(read())
    assert(cold === want, "a multi-batch cold vectorized scan must be byte-identical")
    assert(FileStore.vectorReads.get() - vr0 === 1L)
  }

  test("a COLD scan takes the direct vectorized parquet path: byte-identical, zero heap faults") {
    loadT()
    val want = rows(fold("colr_t"))
    BucketStore.evictTable("colr_t")
    assert(BucketStore.get("colr_t").buckets.loadedCount === 0)
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val got = rows(read())
    assert(got === want, "the vectorized cold path must be byte-identical to the fold")
    assert(FileStore.vectorReads.get() - vr0 >= 4L,
      "every cold clean bucket must take the vectorized path")
    assert(FileStore.filesRead.get() === fr0,
      "the vectorized path must not row-materialize any block")
    assert(BucketStore.get("colr_t").buckets.loadedCount === 0,
      "a cold analytical sweep must not fault blocks into the heap cache")
    // projection pruning: a 2-column read decodes only those columns —
    // still vectorized, still identical
    val narrow = rows(read().select(col("k"), col("v")))
    assert(narrow === want.map(s => Seq(s.head, s(2))))
  }

  test("a FILTERED cold scan takes the vectorized path: byte-identical, zero heap faults") {
    loadT()
    // every filter shape the vector evaluator compiles, across types,
    // nulls (every 13th row), strings, timestamps, and compositions —
    // each compared byte-for-byte against the fold filtered by Spark
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "key point" -> (col("k") === 77L),
      "int range" -> (col("m") > 80 && col("m") <= 90),
      "null probe" -> col("m").isNull,
      "not null + double" -> (col("v").isNotNull && col("v") < 100.0),
      "string cmp" -> (col("tag") >= "tag99"),
      "starts-with" -> col("tag").startsWith("tag31"),
      "in list" -> col("m").isin(3, 5, 96),
      // >32 literals: the set probe evaluates, and ParquetPruning's
      // min/max RANGE bound (not an or-chain) reaches parquet-mr — a
      // malformed range predicate would throw at reader init and
      // silently demote to the row path, which the vectorReads
      // assertion below catches
      "large in (long col)" -> col("k").isin((0L until 4096L by 7L): _*),
      "large in (string col)" -> col("tag").isin((0 until 200).map(i => s"tag$i"): _*),
      "or of ranges" -> (col("k") < 10L || col("k") >= 4090L),
      "timestamp" -> (col("ts") > new java.sql.Timestamp(1700002000000L)),
      "negation" -> !(col("flag") === true),
      "everything matches" -> (col("k") >= 0L))
    // first pass warms the plan-time skip stats (never-committed stats
    // now build from a projected single-column stream — cold-safe —
    // and cache by file path, so later passes pay nothing)
    preds.foreach { case (_, p) => read().filter(p).collect() }
    preds.foreach { case (name, p) =>
      val want = rows(fold("colr_t").filter(p))
      BucketStore.evictTable("colr_t")
      assert(BucketStore.get("colr_t").buckets.loadedCount === 0)
      val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
      val got = rows(read().filter(p))
      assert(got === want, s"[$name] filtered cold vectorized scan must match the fold")
      assert(FileStore.vectorReads.get() > vr0,
        s"[$name] a filtered cold scan must take the vectorized path")
      assert(FileStore.filesRead.get() === fr0,
        s"[$name] the filtered vectorized path must not row-materialize any block")
      assert(BucketStore.get("colr_t").buckets.loadedCount === 0,
        s"[$name] a filtered cold sweep must not fault blocks into the heap cache")
    }
    // a filter the zone maps prove empty: every bucket is pruned AT
    // PLAN TIME — no partition, no read of any kind, empty answer
    BucketStore.evictTable("colr_t")
    val (vrZ, frZ) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    assert(read().filter(col("m") === 9999).collect().isEmpty)
    assert(FileStore.vectorReads.get() === vrZ && FileStore.filesRead.get() === frZ,
      "a provably-empty filter must prune every bucket before any read path runs")
    // filter column NOT in the projection: the read schema widens, the
    // output stays pruned, answers still match
    val wantNarrow = rows(fold("colr_t").filter(col("m") < 5).select(col("k"), col("tag")))
    BucketStore.evictTable("colr_t")
    val vrN = FileStore.vectorReads.get()
    val gotNarrow = rows(read().filter(col("m") < 5).select(col("k"), col("tag")))
    assert(gotNarrow === wantNarrow)
    assert(FileStore.vectorReads.get() > vrN)
  }

  test("a cold LIMIT rides the vectorized path: n rows, bounded decode, zero heap faults") {
    loadT()
    BucketStore.evictTable("colr_t")
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val all = rows(fold("colr_t"))
    BucketStore.evictTable("colr_t")
    val got = read().limit(37).collect().map(_.toSeq)
    assert(got.length === 37)
    assert(got.toSet.subsetOf(all), "limited rows must be real table rows")
    assert(FileStore.vectorReads.get() > vr0, "a cold LIMIT must take the vectorized path")
    assert(BucketStore.get("colr_t").buckets.loadedCount === 0)
    // filtered + limited composes: filter first, then the cap
    BucketStore.evictTable("colr_t")
    val fl = read().filter(col("m") < 50).limit(20).collect()
    assert(fl.length === 20)
    assert(fl.forall(r => !r.isNullAt(1) && r.getInt(1) < 50))
    assert(FileStore.filesRead.get() === fr0 + 4L,
      "only the fold of the reference may row-materialize blocks")
    BucketStore.evictTable("colr_t")
  }

  test("the vectorized path defers to the row path on top-N and hot blocks; z-order MoR now rides it") {
    loadT()
    BucketStore.evictTable("colr_t")
    val vr0 = FileStore.vectorReads.get()
    // warm every block through the row stream: hot blocks serve from heap
    assert(ScanReference.loadingScan(spark, "colr_t").collect().length === 4096)
    val full = read().collect()
    assert(full.length === 4096)
    assert(FileStore.vectorReads.get() === vr0, "hot blocks must serve from heap, not the file")
    // Z-ORDER bucket with LIVE delta (round 18): no longer a fold
    // case — the scan sorted-merges on the rank-normalized Morton key
    // computed straight off the vectors (order parity spec-pinned in
    // BucketedMorSpec); here: the shape decodes vectorized and the
    // answer matches the fold
    BucketStore.drop("colr_vmor")
    BucketStore.load(spark, "colr_vmor",
      (0 until 256).map(i => (i.toLong, i * 1.0, (256 - i) * 1.0)).toDF("k", "x", "y"), "k", 2,
      clusterBy = Some("zorder(x,y)"))
    BucketStore.setDmlMode("colr_vmor", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.colr_vmor WHERE k % 16 = 0")
    spark.sql("UPDATE graft.colr_vmor SET x = x + 1000 WHERE k % 16 = 1")
    val want = ScanReference.buckets(spark, "colr_vmor").flatten
    BucketStore.evictTable("colr_vmor")
    val vr1 = FileStore.vectorReads.get()
    val got = spark.read.format("graft-buckets").option("table", "colr_vmor").load().collect()
    assert(got.length === 240)
    assert(got.map(_.toSeq).toSeq === want, "z-merge must match the fold, order included")
    assert(FileStore.vectorReads.get() - vr1 === 2L,
      "a z-order bucket with live delta now sorted-merges through the vectorized path")
    BucketStore.drop("colr_vmor")
  }

  test("a LEX-CLUSTERED MoR bucket with live delta SORTED-MERGES through the vectorized path") {
    BucketStore.drop("colr_vmrg")
    // cluster on a compound (String, Double) key with nulls in the mix:
    // every comparator branch (UTF8String byte order, IEEE doubles,
    // nulls-first) participates in the merge
    val df = (0 until 1024).map { i =>
      (i.toLong,
        if (i % 17 == 0) null.asInstanceOf[String] else s"g${i % 7}",
        if (i % 23 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf((i * 37 % 101) * 1.0),
        i * 1.0)
    }.toDF("k", "g", "s", "v")
    BucketStore.load(spark, "colr_vmrg", df, "k", 4, clusterBy = Some("g,s"))
    BucketStore.setDmlMode("colr_vmrg", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.colr_vmrg WHERE k % 16 = 0")
    // updates MOVE rows in cluster order (g changes): the merge must
    // place each delta row at its new sorted position, not append it
    spark.sql("UPDATE graft.colr_vmrg SET g = concat('g', CAST(CAST(k % 11 AS INT) AS STRING)) " +
      "WHERE k % 16 = 1")
    def readM() = spark.read.format("graft-buckets").option("table", "colr_vmrg").load()
    require(BucketStore.get("colr_vmrg").mor.nonEmpty)
    // EXACT PER-PARTITION SEQUENCES, not sets: the merge order must be
    // row-for-row the fold's serving order (the scan claims cluster
    // ordering and the planner elides Sorts above it)
    val wantSeq = ScanReference.buckets(spark, "colr_vmrg")
    BucketStore.evictTable("colr_vmrg")
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val gotSeq = readM().rdd
      .mapPartitions(it => Iterator.single(it.map(_.toSeq).toVector))
      .collect().toSeq
    assert(gotSeq.map(_.size).sum === 960)
    assert(gotSeq.toSet === wantSeq.toSet,
      "the vectorized sorted-merge must reproduce the fold's serving order row-for-row")
    assert(FileStore.vectorReads.get() - vr0 === 4L,
      "every lex-clustered live-delta MoR bucket must ride the vectorized merge")
    assert(FileStore.filesRead.get() === fr0)
    assert(BucketStore.get("colr_vmrg").buckets.loadedCount === 0)
    // the ordering claim composes: a filtered read stays merged-ordered
    val wantF = rows(fold("colr_vmrg").filter(col("v") < 512.0))
    BucketStore.evictTable("colr_vmrg")
    val gotF = rows(readM().filter(col("v") < 512.0))
    assert(gotF === wantF, "filtered vectorized merge must match the fold path")
    BucketStore.drop("colr_vmrg")
  }

  test("vectorized merge over an IEEE-specials Double cluster key matches the fold exactly") {
    // NaN (largest), ±Infinity, -0.0 == 0.0, and nulls-first all hit
    // the merge comparator — the fold sorts these through
    // KeyOrder.rows over external doubles, the merge through
    // KeyOrder.BatchKey over the vectors; this pins their agreement
    // with live delta rows interleaving among the specials
    BucketStore.drop("colr_ieee")
    val specials = Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, 1.5, -1.5)
    val df = (0 until 512).map { i =>
      (i.toLong,
        if (i % 11 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(specials(i % specials.length)),
        i * 1.0)
    }.toDF("k", "c", "v")
    BucketStore.load(spark, "colr_ieee", df, "k", 2, clusterBy = Some("c"))
    BucketStore.setDmlMode("colr_ieee", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.colr_ieee WHERE k % 16 = 2")
    // the update MOVES rows onto the specials ladder (including NaN
    // via 0/0 is not expressible in SQL literals — use v-driven picks)
    spark.sql("UPDATE graft.colr_ieee SET c = CAST('NaN' AS DOUBLE) WHERE k % 16 = 3")
    spark.sql("UPDATE graft.colr_ieee SET c = CAST('-0.0' AS DOUBLE) WHERE k % 16 = 4")
    val want = ScanReference.buckets(spark, "colr_ieee").map(_.map(_.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d); case x => x
    }).toVector).toSet
    BucketStore.evictTable("colr_ieee")
    val vr0 = FileStore.vectorReads.get()
    val got = spark.read.format("graft-buckets").option("table", "colr_ieee").load().rdd
      .mapPartitions(it => Iterator.single(it.map(r =>
        r.toSeq.map { case d: Double => java.lang.Double.doubleToRawLongBits(d); case x => x })
        .toVector))
      .collect().toSet
    assert(got === want,
      "IEEE specials must merge bit-identically and in the fold's exact order")
    assert(FileStore.vectorReads.get() > vr0)
    BucketStore.drop("colr_ieee")
  }

  test("Z-ORDER vectorized merge over IEEE-specials dimensions matches the fold exactly") {
    // the z twin of the lex IEEE case (round 18): NaN/±Inf/±0.0/null
    // values feed the per-dimension MORTON KEYS — the fold keys them
    // through ZOrder.dimKey over external doubles, the merge through
    // the vector-side floatingKey(bits) getters; rank normalization
    // (frozen bounds) amplifies any disagreement into a reorder
    val name = "colr_zieee"
    BucketStore.drop(name)
    val specials = Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, 1.5, -1.5, Double.MinPositiveValue)
    val df = (0 until 512).map { i =>
      (i.toLong,
        if (i % 11 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(specials(i % specials.length)),
        (i * 37 % 101).toDouble,
        i * 1.0)
    }.toDF("k", "x", "y", "v")
    BucketStore.load(spark, name, df, "k", 2, clusterBy = Some("zorder(x,y)"))
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    spark.sql(s"DELETE FROM graft.`$name` WHERE k % 16 = 2")
    // live delta rows LAND ON the specials ladder
    spark.sql(s"UPDATE graft.`$name` SET x = CAST('NaN' AS DOUBLE) WHERE k % 16 = 3")
    spark.sql(s"UPDATE graft.`$name` SET x = CAST('-0.0' AS DOUBLE) WHERE k % 16 = 4")
    spark.sql(s"UPDATE graft.`$name` SET x = CAST('Infinity' AS DOUBLE) WHERE k % 16 = 5")
    def bits(r: Seq[Any]): Vector[Any] =
      r.map { case d: Double => java.lang.Double.doubleToRawLongBits(d); case x => x }.toVector
    val want = ScanReference.buckets(spark, name).map(_.map(bits).toVector).toSet
    BucketStore.evictTable(name)
    val vr0 = FileStore.vectorReads.get()
    val got = spark.read.format("graft-buckets").option("table", name).load().rdd
      .mapPartitions(it => Iterator.single(it.map(r => bits(r.toSeq)).toVector))
      .collect().toSet
    assert(got === want,
      "z-merge over IEEE specials must be bit- and order-identical to the fold")
    assert(FileStore.vectorReads.get() > vr0,
      "the specials-laden z-order MoR bucket must still ride the vectorized path")
    BucketStore.drop(name)
  }

  test("vectorized merge order parity with the fold under randomized DML (seeded)") {
    val rnd = new scala.util.Random(20260816L)
    // both sorted-merge modes: the lexicographic comparator chain and
    // (round 18) the rank-normalized Morton interleave
    for (round <- 0 until 3; layout <- Seq("c", "zorder(c,v)")) {
      BucketStore.drop("colr_prop")
      val n = 300 + rnd.nextInt(200)
      val df = (0 until n).map { i =>
        (i.toLong,
          if (rnd.nextInt(9) == 0) null.asInstanceOf[java.lang.Long]
          else java.lang.Long.valueOf(rnd.nextInt(50).toLong),
          rnd.nextDouble() * 100)
      }.toDF("k", "c", "v")
      BucketStore.load(spark, "colr_prop", df, "k", 3, clusterBy = Some(layout))
      BucketStore.setDmlMode("colr_prop", BucketStore.MergeOnRead)
      val delMod = 3 + rnd.nextInt(5)
      val updMod = 3 + rnd.nextInt(5)
      spark.sql(s"DELETE FROM graft.colr_prop WHERE k % 24 = $delMod")
      spark.sql(s"UPDATE graft.colr_prop SET c = (k * 7) % 50 WHERE k % 24 = ${delMod + updMod}")
      val want = ScanReference.buckets(spark, "colr_prop").map(_.toVector).toSet
      BucketStore.evictTable("colr_prop")
      val vr0 = FileStore.vectorReads.get()
      val got = spark.read.format("graft-buckets").option("table", "colr_prop").load().rdd
        .mapPartitions(it => Iterator.single(it.map(_.toSeq).toVector))
        .collect().toSet
      assert(got === want,
        s"[round $round, $layout] merge order must equal fold order per partition")
      assert(FileStore.vectorReads.get() > vr0, s"[round $round, $layout] must ride vectorized")
    }
    BucketStore.drop("colr_prop")
  }

  test("a DELETE-ONLY MoR bucket rides the vectorized path even on a CLUSTERED table") {
    // positional masking preserves ANY serving order, so the ordering
    // contract holds with zero live delta rows — the retention-job
    // shape (bulk DELETE, no updates) never pays the fold
    BucketStore.drop("colr_vdel")
    BucketStore.load(spark, "colr_vdel",
      (0 until 512).map(i => (i.toLong, (512 - i) * 1.0)).toDF("k", "v"), "k", 2,
      clusterBy = Some("v"))
    BucketStore.setDmlMode("colr_vdel", BucketStore.MergeOnRead)
    spark.sql("DELETE FROM graft.colr_vdel WHERE k % 8 = 0")
    def readD() = spark.read.format("graft-buckets").option("table", "colr_vdel").load()
    val want = rows(fold("colr_vdel"))
    assert(want.size === 448)
    BucketStore.evictTable("colr_vdel")
    val vr0 = FileStore.vectorReads.get()
    val got = rows(readD())
    assert(got === want)
    assert(FileStore.vectorReads.get() - vr0 === 2L,
      "a delete-only clustered MoR bucket must decode vectorized")
    // the ordering contract survives: rows of each bucket arrive in
    // cluster order (ascending v) with the deleted positions masked
    val perPart = readD().select(col("v"))
      .queryExecution.toRdd.mapPartitions(it =>
        Iterator.single(it.map(_.getDouble(0)).toArray)).collect()
    perPart.foreach(a => assert(a.sameElements(a.sorted),
      "masked cluster order must survive the vectorized path"))
    BucketStore.drop("colr_vdel")
  }

  test("a cold NON-clustered MoR bucket rides the vectorized path: deletes mask, delta appends") {
    BucketStore.drop("colr_morv")
    BucketStore.load(spark, "colr_morv",
      (0 until 1024).map(i => (i.toLong, i % 31, i * 1.0, s"t$i")).toDF("k", "m", "v", "tag"),
      "k", 4)
    BucketStore.setDmlMode("colr_morv", BucketStore.MergeOnRead)
    // positional deletes + delta rows (UPDATE = delete bit + delta row)
    spark.sql("DELETE FROM graft.colr_morv WHERE k % 16 = 0")
    spark.sql("UPDATE graft.colr_morv SET v = v + 10000 WHERE k % 16 = 1")
    def readM() = spark.read.format("graft-buckets").option("table", "colr_morv").load()
    val want = rows(fold("colr_morv"))
    assert(want.size === 960)
    assert(want.count(_(2).asInstanceOf[Double] >= 10000.0) === 64)
    require(BucketStore.get("colr_morv").mor.nonEmpty, "MoR state must be pending")
    BucketStore.evictTable("colr_morv")
    assert(BucketStore.get("colr_morv").buckets.loadedCount === 0)
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val got = rows(readM())
    assert(got === want, "the vectorized MoR scan must be byte-identical to the fold")
    assert(FileStore.vectorReads.get() - vr0 === 4L,
      "every cold NON-clustered MoR bucket must decode vectorized")
    assert(FileStore.filesRead.get() === fr0,
      "the vectorized MoR scan must not row-materialize any block")
    assert(BucketStore.get("colr_morv").buckets.loadedCount === 0,
      "the vectorized MoR scan must not fault blocks into the heap cache")

    // FILTERED: base rows filter batch-side (no parquet-mr predicate —
    // the deletion bitmap is positional), delta rows filter row-side;
    // deleted rows must never resurface through either branch
    val wantF = rows(fold("colr_morv").filter(col("v") >= 9999.0))
    BucketStore.evictTable("colr_morv")
    val vrF = FileStore.vectorReads.get()
    val gotF = rows(readM().filter(col("v") >= 9999.0))
    assert(gotF === wantF, "filtered vectorized MoR must match the fold")
    assert(gotF.size === 64, "exactly the updated delta rows match the filter")
    assert(FileStore.vectorReads.get() > vrF)

    // a filter selecting ONLY base survivors: delta rows all fail it
    val wantB = rows(fold("colr_morv").filter(col("v") < 100.0 && col("m") === 3))
    BucketStore.evictTable("colr_morv")
    val gotB = rows(readM().filter(col("v") < 100.0 && col("m") === 3))
    assert(gotB === wantB)

    // LIMIT composes: n live rows, never a deleted one
    BucketStore.evictTable("colr_morv")
    val lim = readM().limit(50).collect().map(_.toSeq)
    assert(lim.length === 50)
    assert(lim.toSet.subsetOf(want), "limited rows must be LIVE rows (no deleted resurface)")

    // pushed AGGREGATE over the cold MoR table: the projected fast
    // path now decodes vectorized too (order-insensitive, so even
    // clustered tables would qualify) — grouped sum equals the fold
    val wantA = fold("colr_morv").groupBy(col("m"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    BucketStore.evictTable("colr_morv")
    val vrA = FileStore.vectorReads.get()
    val gotA = readM().groupBy(col("m"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotA === wantA, "the vectorized MoR pushed aggregate must match the fold")
    assert(FileStore.vectorReads.get() > vrA,
      "a cold MoR pushed aggregate must decode through the vectorized reader")
    assert(BucketStore.get("colr_morv").buckets.loadedCount === 0)
    BucketStore.drop("colr_morv")
  }

  test("a pre-ALTER short block NULL-pads the added column THROUGH the vectorized path") {
    BucketStore.drop("colr_alter")
    BucketStore.load(spark, "colr_alter",
      (0 until 128).map(i => (i.toLong, i * 2.0)).toDF("k", "v"), "k", 2)
    BucketStore.addColumns("colr_alter",
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType, nullable = true)))
    BucketStore.evictTable("colr_alter")
    val vr0 = FileStore.vectorReads.get()
    val got = spark.read.format("graft-buckets").option("table", "colr_alter").load().collect()
    assert(got.length === 128)
    assert(got.forall(_.isNullAt(2)), "pre-ALTER rows must NULL-pad the added column")
    // round 17: the reader is initialized with the TABLE's requested
    // schema, so parquet schema evolution serves the missing column as
    // a null vector — no fallback, no row materialization
    assert(FileStore.vectorReads.get() > vr0,
      "a projected post-ALTER column must NULL-pad through the vectorized path")
    assert(BucketStore.get("colr_alter").buckets.loadedCount === 0)
    // identical rows to the store's fold, NULL-padded
    assert(got.map(_.toSeq).toSet === rows(fold("colr_alter")))
    BucketStore.drop("colr_alter")
  }

  test("an evolved COLD table keeps the FILTERED vectorized path: every shape, row-path identity") {
    import org.apache.spark.sql.types.{StringType, StructField}
    val name = "colr_alterf"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (0 until 1024).map(i => (i.toLong, i * 2.0, s"s$i")).toDF("k", "v", "s"), "k", 4)
    BucketStore.addColumns(name, Seq(StructField("extra", StringType, nullable = true)))
    // post-ALTER append: the table now MIXES pre-ALTER (short) and
    // post-ALTER (full) file schemas — the 100 TB reality after an
    // ALTER, where only new buckets carry the column physically
    Seq((9000L, 1.0, "s9000", "E")).toDF("k", "v", "s", "extra")
      .writeTo(s"graft.`$name`").append()
    def rd() = spark.read.format("graft-buckets").option("table", name).load()
    // (filter, minimum buckets the zone maps cannot prune)
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] =
      Seq(
        ("filter-old-col", _.filter(col("k") < 100)),
        ("filter-new-col-isnull", _.filter(col("extra").isNull)),
        ("or-across-old-and-new", _.filter(col("extra") === "E" || col("k") < 100)),
        ("project-new-filter-old", _.filter(col("k") < 100).select(col("extra"), col("v"))),
        ("filter-new-col-eq", _.filter(col("extra") === "E")))
    shapes.foreach { case (label, shape) =>
      val want = rows(shape(fold(name)))
      BucketStore.evictTable(name)
      val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
      val got = rows(shape(rd()))
      assert(got === want, s"$label: vectorized answer must equal the fold's")
      assert(FileStore.filesRead.get() === fr0,
        s"$label: an evolved cold scan must not row-materialize any block")
      assert(FileStore.vectorReads.get() > vr0,
        s"$label: an evolved cold filtered scan must decode vectorized")
      assert(BucketStore.get(name).buckets.loadedCount === 0,
        s"$label: nothing may fault into the heap cache")
    }
    // the unpruned full sweep decodes EVERY bucket vectorized —
    // one ALTER must not demote a single bucket to the row path
    BucketStore.evictTable(name)
    val vrAll = FileStore.vectorReads.get()
    assert(rd().filter(col("k") >= 0).collect().length === 1025)
    assert(FileStore.vectorReads.get() - vrAll ===
      BucketStore.get(name).buckets.length.toLong,
      "every bucket of the evolved table must ride the vectorized path")
    // the cold PUSHED AGGREGATE path with a filter on the ADDED column:
    // pre-ALTER files serve the missing column as nulls, post-ALTER
    // files their values — grouped sum equals the fold's, cold
    val wantAgg = fold(name).filter(col("extra").isNull)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(_.toSeq).toSeq
    BucketStore.evictTable(name)
    val frAgg = FileStore.filesRead.get()
    val gotAgg = rd().filter(col("extra").isNull)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(_.toSeq).toSeq
    assert(gotAgg === wantAgg,
      "the cold pushed aggregate filtered on the ADDED column must match the fold")
    assert(FileStore.filesRead.get() === frAgg,
      "the evolved cold aggregate must not row-materialize any block")
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    BucketStore.drop(name)
  }

  test("a co-bucketed join of two COLD tables: zero Exchange, vectorized both sides, zero faults") {
    BucketStore.drop("colr_jl")
    BucketStore.drop("colr_jr")
    BucketStore.load(spark, "colr_jl",
      (0 until 2048).map(i => (i.toLong, i * 1.5)).toDF("k", "a"), "k", 8)
    BucketStore.load(spark, "colr_jr",
      (0 until 2048 by 2).map(i => (i.toLong, s"r$i")).toDF("k", "b"), "k", 8)
    val expected = 1024L
    // both sides fully evicted: the 100 TB co-located join shape —
    // two cold tables, no shuffle, file-speed decode on each side
    BucketStore.evictTable("colr_jl")
    BucketStore.evictTable("colr_jr")
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val j = spark.table("graft.colr_jl").hint("merge")
      .join(spark.table("graft.colr_jr"), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"co-bucketed join must not shuffle:\n${plan.take(800)}")
    assert(j.count() === expected)
    assert(FileStore.vectorReads.get() - vr0 === 16L,
      "every cold bucket on BOTH sides must decode vectorized")
    assert(FileStore.filesRead.get() === fr0,
      "the cold join must not row-materialize any block")
    assert(BucketStore.get("colr_jl").buckets.loadedCount === 0)
    assert(BucketStore.get("colr_jr").buckets.loadedCount === 0)
    BucketStore.drop("colr_jl")
    BucketStore.drop("colr_jr")
  }

  test("DECIMAL columns ride the columnar path: cold scan, pushed filter, clustered MoR merge") {
    // TPC-H money columns are DECIMAL — before round 18 any projection
    // containing one demoted the whole scan to the row reader
    import org.apache.spark.sql.types.DecimalType
    val name = "colr_dec"
    BucketStore.drop(name)
    val df = (0 until 1024).map { i =>
      (i.toLong,
        if (i % 13 == 0) null.asInstanceOf[java.math.BigDecimal]
        else new java.math.BigDecimal(s"${i * 7 % 500}.${(i % 100).formatted("%02d")}"),
        i * 1.0)
    }.toDF("k", "price", "v")
      .withColumn("price", col("price").cast(DecimalType(18, 2)))
    BucketStore.load(spark, name, df, "k", 4, clusterBy = Some("price"))
    def rd() = spark.read.format("graft-buckets").option("table", name).load()
    // clean cold scan: vectorized, byte-identical, zero faults
    val want = rows(fold(name))
    BucketStore.evictTable(name)
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val got = rows(rd())
    assert(got === want)
    assert(FileStore.vectorReads.get() - vr0 === 4L, "every bucket must decode vectorized")
    assert(FileStore.filesRead.get() === fr0)
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    // pushed DECIMAL comparison through the compiled vector evaluator
    val cut = new java.math.BigDecimal("250.00")
    val wantF = rows(fold(name).filter(col("price") > cut))
    BucketStore.evictTable(name)
    val vrF = FileStore.vectorReads.get()
    val gotF = rows(rd().filter(col("price") > cut))
    assert(gotF === wantF, "a pushed decimal filter must match the fold")
    assert(FileStore.vectorReads.get() > vrF, "the filtered decimal scan must stay vectorized")
    // DECIMAL-clustered MoR with live delta: the sorted merge compares
    // vector decimals against external BigDecimals (scale-insensitive)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    spark.sql(s"DELETE FROM graft.`$name` WHERE k % 16 = 2")
    spark.sql(s"UPDATE graft.`$name` SET price = CAST('999.99' AS DECIMAL(18,2)) WHERE k % 16 = 3")
    val wantM = ScanReference.buckets(spark, name).map(_.toVector).toSet
    BucketStore.evictTable(name)
    val vrM = FileStore.vectorReads.get()
    val gotM = rd().rdd
      .mapPartitions(it => Iterator.single(it.map(_.toSeq).toVector)).collect().toSet
    assert(gotM === wantM, "the decimal-clustered MoR merge must be order-identical to the fold")
    assert(FileStore.vectorReads.get() > vrM)
    BucketStore.drop(name)
  }

  test("a clustered DECIMAL predicate prunes ROW GROUPS inside cold blocks (round 19)") {
    // round 18 proved decimal DECODE; this pins decimal PRUNING: the
    // parquet predicate compares the UNSCALED int32/int64 physical
    // value, so a selective predicate on the cluster column skips the
    // row groups whose stats exclude it — observable as decoded rows
    // (pre-filter) ≪ table rows. Small row groups via the layout knob
    // give the file enough groups to skip.
    import org.apache.spark.sql.types.DecimalType
    val name = "colr_decrg"
    BucketStore.drop(name)
    val prev = System.getProperty("graft.parquet.rowgroup.bytes")
    System.setProperty("graft.parquet.rowgroup.bytes", (64 * 1024).toString)
    try {
      val n = 65536
      val df = (0 until n).map { i =>
        (i.toLong, java.math.BigDecimal.valueOf((i * 2654435761L) % 1000000L, 2))
      }.toDF("k", "price").withColumn("price", col("price").cast(DecimalType(12, 2)))
      BucketStore.load(spark, name, df, "k", 2, clusterBy = Some("price"))
      def rd() = spark.read.format("graft-buckets").option("table", name).load()
      // control: an unfiltered cold sweep decodes every row group
      // (collect, not count — count() is served stats-only)
      BucketStore.evictTable(name)
      val rd0 = FileStore.vectorRowsDecoded.get()
      assert(rd().collect().length === n)
      val fullDecoded = FileStore.vectorRowsDecoded.get() - rd0
      assert(fullDecoded >= n.toLong, s"control sweep must decode all rows, got $fullDecoded")
      // selective range on the cluster column: ~1% of values
      val cut = new java.math.BigDecimal("100.00")
      val want = rows(fold(name).filter(col("price") < cut))
      BucketStore.evictTable(name)
      val (vr1, rd1) = (FileStore.vectorReads.get(), FileStore.vectorRowsDecoded.get())
      val got = rows(rd().filter(col("price") < cut))
      assert(got === want, "the pruned decimal scan must match the fold exactly")
      assert(FileStore.vectorReads.get() - vr1 >= 2L,
        "the decimal-predicated scan must stay vectorized (a rejected parquet " +
          "predicate would demote it)")
      val decoded = FileStore.vectorRowsDecoded.get() - rd1
      assert(decoded < n.toLong / 4,
        s"row groups outside the decimal range must be SKIPPED: decoded $decoded of $n")
      // decimal IN: the >32-literal list keeps a min/max row-group
      // bound and the unscaled set probe enforces exact membership
      val lits = (0 until 64).map(j => java.math.BigDecimal.valueOf(j * 100L + 25L, 2))
      val wantIn = rows(fold(name).filter(col("price").isin(lits: _*)))
      BucketStore.evictTable(name)
      val (vr2, rd2) = (FileStore.vectorReads.get(), FileStore.vectorRowsDecoded.get())
      val gotIn = rows(rd().filter(col("price").isin(lits: _*)))
      assert(gotIn === wantIn, "the decimal In probe must match the fold exactly")
      assert(FileStore.vectorReads.get() - vr2 >= 2L)
      assert(FileStore.vectorRowsDecoded.get() - rd2 < n.toLong / 4,
        "the In range bound must keep pruning row groups")
    } finally {
      if (prev == null) System.clearProperty("graft.parquet.rowgroup.bytes")
      else System.setProperty("graft.parquet.rowgroup.bytes", prev)
      BucketStore.drop(name)
    }
  }

  test("BINARY columns ride the columnar path: cold scan, filtered copier, MoR overlay (round 20)") {
    // multimodal content is BINARY; before round 20 projecting one
    // demoted the whole scan to the row reader — the dominant
    // multimodal sweep shape paying the slow path
    BucketStore.drop("colr_bin")
    val df = (0 until 2048).map { i =>
      if (i % 13 == 0) (i.toLong, null.asInstanceOf[Array[Byte]], i % 7)
      else (i.toLong,
        Array.tabulate[Byte](8 + i % 64)(j => ((i * 31 + j) % 251).toByte), i % 7)
    }.toDF("k", "content", "g")
    BucketStore.load(spark, "colr_bin", df, "k", 4)
    def snapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.getAs[Array[Byte]]("content")).map(_.toSeq), r.getInt(2)))
      .toSet
    def snap(g: Option[Int] = None) = {
      val base = spark.read.format("graft-buckets").option("table", "colr_bin").load()
      snapOf(g.fold(base)(x => base.filter(col("g") === x)))
    }
    val want = snapOf(fold("colr_bin"))
    assert(want.size === 2048 && want.exists(_._2.isEmpty))

    // cold sweep: fully vectorized, zero row-materialized blocks, zero heap faults
    BucketStore.evictTable("colr_bin")
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    assert(snap() === want,
      "the vectorized binary path must be byte-identical to the fold")
    assert(FileStore.vectorReads.get() - vr0 >= 4L,
      "every cold bucket of a binary projection must take the vectorized path")
    assert(FileStore.filesRead.get() === fr0,
      "a binary projection must not row-materialize any block")
    assert(BucketStore.get("colr_bin").buckets.loadedCount === 0)
    val plan = spark.read.format("graft-buckets").option("table", "colr_bin").load()
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), "binary projections now plan columnar")

    // a filtered scan carries binary through the compaction copier
    BucketStore.evictTable("colr_bin")
    val fr1 = FileStore.filesRead.get()
    assert(snap(g = Some(3)) === want.filter(_._3 === 3))
    assert(FileStore.filesRead.get() === fr1, "filtered binary scan stays vectorized")

    // merge-on-read state (deleted mask + delta rows holding binary)
    // still serves through the vectorized overlay
    BucketStore.setDmlMode("colr_bin", BucketStore.MergeOnRead)
    BucketStore.deleteWhere("colr_bin", _.getLong(0) % 10 == 1L)
    spark.sql("UPDATE graft.colr_bin SET g = 99 WHERE k % 50 = 2")
    val wantMor = snapOf(fold("colr_bin"))
    assert(wantMor.exists(_._3 == 99) && !wantMor.exists(_._1 == 1L))
    BucketStore.evictTable("colr_bin")
    val (vr2, fr2) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    assert(snap() === wantMor,
      "binary MoR overlay must match the fold exactly")
    assert(FileStore.vectorReads.get() - vr2 > 0L)
    assert(FileStore.filesRead.get() === fr2)
    BucketStore.drop("colr_bin")
  }

  test("a projection containing an unsupported type falls back to the row reader cleanly") {
    BucketStore.drop("colr_arr")
    BucketStore.load(spark, "colr_arr",
      Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0))).toDF("k", "arr"), "k", 2)
    val df = spark.read.format("graft-buckets").option("table", "colr_arr").load()
    // ArrayType has no row-backed vector: supportColumnarReads says no and
    // the scan runs row-at-a-time — same rows, no ColumnarToRow
    assert(!df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }
}
