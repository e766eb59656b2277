package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** DSv2 write path: catalog CTAS/append/overwrite into the bucket
  * store, bucket-layout integrity, two-phase-commit atomicity, and the
  * written table's immediate storage-partitioned-join-ability.
  */
class BucketedWriteSpec extends SparkSuite {
  import spark.implicits._

  test("CTAS through the catalog round-trips rows and buckets them byte-identically to load") {
    val src = (1 to 300).map(i => (i.toLong, s"v$i", i * 1.5)).toDF("k", "v", "d")
    spark.sql("DROP TABLE IF EXISTS graft.`w_ctas`")
    src.writeTo("graft.`w_ctas`").partitionedBy(bucket(8, col("k"))).create()
    // rows round-trip exactly
    val got = spark.table("graft.`w_ctas`").collect().map(_.toSeq).toSet
    assert(got === src.collect().map(_.toSeq).toSet)
    // bucket integrity: every stored row sits in the bucket its key
    // hashes to — the same layout BucketStore.load would produce
    val t = BucketStore.get("w_ctas")
    assert(t.buckets.length === 8 && t.keyCol === "k")
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach { r =>
        assert(BucketFunction.bucketFor(r.getAs[Long]("k"), 8).contains(b),
          s"row with k=${r.get(0)} landed in bucket $b")
      }
    }
    assert(t.buckets.map(_.length).sum === 300)
  }

  test("append adds rows under a new version; overwrite replaces them") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_modes`")
    val a = (1 to 50).map(i => (i.toLong, "a")).toDF("k", "v")
    val b = (51 to 70).map(i => (i.toLong, "b")).toDF("k", "v")
    a.writeTo("graft.`w_modes`").partitionedBy(bucket(4, col("k"))).create()
    val v1 = BucketStore.get("w_modes").version
    b.writeTo("graft.`w_modes`").append()
    val v2 = BucketStore.get("w_modes").version
    assert(v2 > v1, "append must publish a new snapshot version")
    assert(spark.table("graft.`w_modes`").count() === 70)
    // overwrite (truncate) replaces everything
    b.writeTo("graft.`w_modes`").overwrite(lit(true))
    assert(spark.table("graft.`w_modes`").select("v").distinct().as[String].collect().toSeq
      === Seq("b"))
    assert(spark.table("graft.`w_modes`").count() === 20)
  }

  test("a failed write publishes nothing (two-phase commit atomicity)") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_atomic`")
    (1 to 10).map(i => (i.toLong, i)).toDF("k", "n")
      .writeTo("graft.`w_atomic`").partitionedBy(bucket(4, col("k"))).create()
    val before = BucketStore.get("w_atomic")
    val poison = udf((n: Int) => {
      if (n == 7) throw new RuntimeException("poisoned row")
      n
    })
    val bad = (1 to 10).map(i => (i.toLong, i)).toDF("k", "n")
      .withColumn("n", poison(col("n")))
    intercept[Exception] { bad.writeTo("graft.`w_atomic`").append() }
    val after = BucketStore.get("w_atomic")
    assert(after.version === before.version, "aborted job must not bump the version")
    assert(after.buckets.map(_.length).sum === 10, "aborted job must not publish rows")
  }

  test("schema mismatch and missing bucket transform are rejected loudly") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_schema`")
    (1 to 5).map(i => (i.toLong, "x")).toDF("k", "v")
      .writeTo("graft.`w_schema`").partitionedBy(bucket(2, col("k"))).create()
    // (an Int key would be legitimately widened by ANSI store
    // assignment — use a truly incompatible shape: wrong column name)
    val wrong = (1 to 5).map(i => (i.toLong, "x")).toDF("zzz", "v")
    val ex = intercept[Exception] { wrong.writeTo("graft.`w_schema`").append() }
    assert(ex.getMessage.contains("zzz") || ex.getMessage.toLowerCase.contains("schema"),
      ex.getMessage)
    val noBucket = intercept[Exception] {
      (1 to 5).map(i => (i.toLong, "x")).toDF("k", "v")
        .writeTo("graft.`w_nobucket`").create()
    }
    assert(noBucket.getMessage.contains("bucket"), noBucket.getMessage)
  }

  test("streaming write: q98 pipeline equals the batch answer; epoch replay cannot double-append") {
    // e2e through writeStream.toTable (the gated q98 path)
    val got = BucketedQueries.streamWriteQuery(spark, sf).collect().map(_.toSeq).toSet
    val exp = graft.tables.Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(got === exp)
    assert(got.nonEmpty)
    // unit: a retried epoch commit is a no-op (exactly-once per epoch)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    spark.sql("DROP TABLE IF EXISTS graft.`w_epoch`")
    BucketStore.createEmpty("w_epoch", schema, "k", 2)
    val sw = new BucketedStreamingWrite("w_epoch", schema, truncate = false, "k", 2)
    val writer = new BucketedDataWriter(schema, "k", 2)
    writer.write(org.apache.spark.sql.catalyst.InternalRow(
      0L, org.apache.spark.unsafe.types.UTF8String.fromString("a")))
    val msg = writer.commit()
    sw.commit(7L, Array(msg))
    sw.commit(7L, Array(msg)) // replayed epoch
    assert(BucketStore.get("w_epoch").buckets.map(_.length).sum === 1,
      "a replayed epoch must not double-append")
  }

  test("streaming upsert is exactly-once ACROSS restart: a replayed epoch cannot double-apply") {
    import java.nio.file.{Files, Paths}
    val srcDir = Files.createTempDirectory("graft_ups_src").toString
    val ckpt = Files.createTempDirectory("graft_ups_ckpt").toString
    spark.sql("DROP TABLE IF EXISTS graft.`ups_ckpt`")
    spark.sql("CREATE TABLE graft.`ups_ckpt` (k BIGINT, cnt BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")

    def addBatch(tag: String, keys: Seq[Long]): Unit = {
      val tmp = Files.createTempDirectory(s"graft_ups_$tag")
      keys.toDF("k").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(srcDir, s"$tag.parquet"))
      ()
    }
    def startQuery() =
      spark.readStream.schema("k LONG").parquet(srcDir)
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .option("upsert", "true")
        .toTable("graft.`ups_ckpt`")
    def state(): Set[(Long, Long)] =
      spark.table("graft.`ups_ckpt`").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    addBatch("b1", Seq(1L, 1L, 2L))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(state() === Set((1L, 2L), (2L, 1L)))

    // forge an epoch RETRY across restart: drop the last commit marker
    // so the restarted query re-executes the final batch against a
    // FRESH sink instance (whose in-memory epoch set is empty — the
    // same-session dedup cannot help here)
    val commitDir = Paths.get(ckpt, "commits")
    val commits = Files.list(commitDir).toArray.map(_.toString)
      .map(f => Paths.get(f).getFileName.toString)
      .filterNot(_.startsWith(".")) // Hadoop-local .N.crc siblings
    assert(commits.nonEmpty)
    val last = commits.maxBy(_.toLong)
    Files.delete(commitDir.resolve(last))
    Files.deleteIfExists(commitDir.resolve(s".$last.crc"))
    val vBefore = BucketStore.currentVersion("ups_ckpt")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // the retried epoch WAS re-applied (a new store version published)…
    assert(BucketStore.currentVersion("ups_ckpt") > vBefore,
      "the dropped commit marker must force a replay of the last epoch")
    // …and the keyed upsert made the re-application a no-op: same keys,
    // same values, no duplicate rows — idempotence-by-key IS the
    // cross-restart exactly-once mechanism (an append sink would have
    // doubled the rows here)
    assert(state() === Set((1L, 2L), (2L, 1L)),
      "a replayed epoch through the upsert sink must not change the table")
    assert(spark.table("graft.`ups_ckpt`").count() === 2L)

    // and the stream continues correctly past the replay
    addBatch("b2", Seq(1L, 3L))
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    assert(state() === Set((1L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("layout guard: a SAME-count layout change between write planning and commit fails loudly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    BucketStore.drop("w_layout")
    BucketStore.createEmpty("w_layout", schema, "k", 4)
    val seed = Array.tabulate(4)(b => Array.tabulate(5)(i => Row((b * 5 + i).toLong, "x")))
    BucketStore.commitWrite("w_layout", seed, truncate = false, expectedLayoutEpoch = 0L)
    val staleEpoch = BucketStore.get("w_layout").layoutEpoch
    // the same-count layout change the bucket-count require cannot see:
    // 4 hash buckets → 4 range buckets, captured rangeBounds go stale
    BucketStore.repartitionRange("w_layout", 4)
    def oneRow(): Array[Array[Row]] = {
      val byBucket = Array.fill(4)(Array.empty[Row])
      byBucket(0) = Array(Row(100L, "y"))
      byBucket
    }
    val ex = intercept[IllegalArgumentException] {
      BucketStore.commitWrite("w_layout", oneRow(), truncate = false, staleEpoch)
    }
    assert(ex.getMessage.contains("layout"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      BucketStore.upsertRows("w_layout", oneRow(), staleEpoch)
    }
    assert(ex2.getMessage.contains("layout"), ex2.getMessage)
    val ex3 = intercept[IllegalArgumentException] {
      BucketStore.replaceGroups("w_layout", oneRow(), Set(0), staleEpoch)
    }
    assert(ex3.getMessage.contains("layout"), ex3.getMessage)
    // a writer built AFTER the layout change commits cleanly: route by
    // the CURRENT layout and present the current epoch
    val t = BucketStore.get("w_layout")
    val routed = Array.fill(4)(Vector.newBuilder[Row])
    routed(BucketStore.routeBucket(t.rangeBounds, t.schema(t.keyCol).dataType, 4, 100L)) += Row(100L, "y")
    BucketStore.commitWrite("w_layout", routed.map(_.result().toArray),
      truncate = false, t.layoutEpoch)
    assert(BucketStore.get("w_layout").buckets.map(_.length).sum === 21)
    BucketStore.drop("w_layout")
    ()
  }

  test("write plans ONE exchange on the catalog's bucket function — each task writes whole buckets") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_plan`")
    spark.sql("CREATE TABLE graft.`w_plan` (k BIGINT, v STRING) PARTITIONED BY (bucket(8, k))")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(s.physicalPlanDescription); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .writeTo("graft.`w_plan`").append()
      org.apache.spark.sql.ListenerBusTestBridge.drain(spark)
      val plan = plans.toArray(Array.empty[String])
        .find(p => p.contains("AppendData") && p.contains("w_plan") ||
          p.contains("AppendData") && p.contains("BucketedWrite"))
      assert(plan.isDefined, "expected a captured AppendData plan")
      val p = plan.get
      // the RequiresDistributionAndOrdering contract, realized: Spark
      // shuffles BY OUR BUCKET FUNCTION (FunctionCatalog-resolved) into
      // exactly numBuckets partitions, so every write task stages whole
      // buckets — host-local ingest at scale
      assert(p.contains("applyfunctionexpression") && p.contains("BucketFunction"),
        p.take(1500))
      // the formatted description prints each node twice (tree +
      // detail) — count the Exchange ARGUMENT lines for uniqueness
      assert(p.linesIterator.count(_.contains("REPARTITION_BY_NUM")) === 1,
        "exactly one shuffle, on the bucket function\n" + p.take(1500))
      assert(p.contains(", 8), REPARTITION_BY_NUM"), p.take(1500))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("DELETE FROM and TRUNCATE TABLE execute store-side under new versions") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_del`")
    (1 to 40).map(i => (i.toLong, i % 4)).toDF("k", "grp")
      .writeTo("graft.`w_del`").partitionedBy(bucket(4, col("k"))).create()
    val v0 = BucketStore.get("w_del").version
    // filter-translatable predicate → executed inside the store
    spark.sql("DELETE FROM graft.`w_del` WHERE grp = 2")
    assert(spark.table("graft.`w_del`").count() === 30)
    assert(spark.table("graft.`w_del`").filter(col("grp") === 2).count() === 0)
    assert(BucketStore.get("w_del").version > v0, "delete must publish a new version")
    // three-valued logic holds for DML too: NULL-safe semantics come
    // from the same pushed-filter evaluator the read path uses
    spark.sql("DELETE FROM graft.`w_del` WHERE k >= 30")
    assert(spark.table("graft.`w_del`").count() ===
      (1 to 29).count(i => i % 4 != 2).toLong)
    spark.sql("TRUNCATE TABLE graft.`w_del`")
    assert(spark.table("graft.`w_del`").count() === 0)
    assert(BucketStore.get("w_del").buckets.length === 4, "layout survives truncate")
  }

  test("row-level ops: UPDATE, key-moving UPDATE, MERGE INTO, and non-translatable DELETE") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_rlo`")
    (1 to 20).map(i => (i.toLong, s"v$i", i * 10)).toDF("k", "v", "n")
      .writeTo("graft.`w_rlo`").partitionedBy(bucket(4, col("k"))).create()

    // UPDATE on a translatable predicate rewrites only the owning rows
    spark.sql("UPDATE graft.`w_rlo` SET v = 'updated' WHERE k = 5")
    assert(spark.table("graft.`w_rlo`").filter(col("v") === "updated")
      .select("k").as[Long].collect().toSeq === Seq(5L))
    assert(spark.table("graft.`w_rlo`").count() === 20)

    // UPDATE that REWRITES THE BUCKET KEY: the row must move to its
    // new owning bucket (and only once)
    spark.sql("UPDATE graft.`w_rlo` SET k = 100 WHERE k = 7")
    assert(spark.table("graft.`w_rlo`").filter(col("k") === 7).count() === 0)
    assert(spark.table("graft.`w_rlo`").filter(col("k") === 100).count() === 1)
    assert(spark.table("graft.`w_rlo`").count() === 20)
    val t = BucketStore.get("w_rlo")
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(
        BucketFunction.bucketFor(r.getAs[Long]("k"), 4).contains(b),
        s"row k=${r.get(0)} landed in wrong bucket $b after key-moving UPDATE"))
    }

    // MERGE INTO: matched rows update, unmatched insert
    spark.sql("DROP TABLE IF EXISTS graft.`w_rlo_src`")
    Seq((1L, "merged", 111), (999L, "inserted", 999)).toDF("k", "v", "n")
      .writeTo("graft.`w_rlo_src`").partitionedBy(bucket(4, col("k"))).create()
    spark.sql(
      """MERGE INTO graft.`w_rlo` t USING graft.`w_rlo_src` s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = s.n
        |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""".stripMargin)
    assert(spark.table("graft.`w_rlo`").filter(col("k") === 1)
      .select("v").as[String].head() === "merged")
    assert(spark.table("graft.`w_rlo`").filter(col("k") === 999)
      .select("v").as[String].head() === "inserted")
    assert(spark.table("graft.`w_rlo`").count() === 21)

    // a DELETE the store does not claim falls back to the
    // copy-on-write rewrite instead of erroring
    spark.sql("DELETE FROM graft.`w_rlo` WHERE k % 2 = 0 AND k < 20")
    val remaining = spark.table("graft.`w_rlo`").select("k").as[Long].collect().toSet
    assert(!remaining.exists(k => k % 2 == 0 && k < 20), remaining.toString)
    assert(remaining.contains(100L) && remaining.contains(999L))
  }

  test("UPDATE on the bucket key rewrites ~one bucket, not the table (group pruning)") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_prune`")
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .writeTo("graft.`w_prune`").partitionedBy(bucket(8, col("k"))).create()
    ConnectionPool.reset()
    spark.sql("UPDATE graft.`w_prune` SET v = 'x' WHERE k = 42")
    // reads = the group-discovery subquery (bucket-pruned normal scan)
    // + the rewrite scan of the one affected bucket — never 8 buckets
    val (created, reused) = ConnectionPool.stats
    assert(created + reused <= 4,
      s"UPDATE WHERE key=42 should read ~1 bucket (+subquery), opened ${created + reused}")
    assert(spark.table("graft.`w_prune`").filter(col("v") === "x")
      .select("k").as[Long].collect().toSeq === Seq(42L))
    assert(spark.table("graft.`w_prune`").count() === 100)
  }

  test("SQL DML front door: CREATE TABLE / INSERT INTO / INSERT OVERWRITE / DROP") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_sql`")
    spark.sql("CREATE TABLE graft.`w_sql` (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.`w_sql` VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM graft.`w_sql`").head().getLong(0) === 3L)
    spark.sql("INSERT INTO graft.`w_sql` VALUES (4, 'd')")
    assert(spark.sql("SELECT count(*) FROM graft.`w_sql`").head().getLong(0) === 4L)
    spark.sql("INSERT OVERWRITE graft.`w_sql` VALUES (9, 'z')")
    assert(spark.sql("SELECT k, v FROM graft.`w_sql`").collect().map(_.toSeq).toSeq
      === Seq(Seq(9L, "z")))
    // store-side layout is the real bucketed one, not a flat append
    val t = BucketStore.get("w_sql")
    assert(t.keyCol === "k" && t.buckets.length === 4)
    assert(spark.sql("DROP TABLE graft.`w_sql`") != null)
    assert(!BucketStore.exists("w_sql"))
  }

  test("a written table joins a loaded table as a storage-partitioned join — zero Exchange") {
    BucketStore.ensureLoaded(spark, s"lineitem@$sf", sf, "lineitem", "l_orderkey", 16)
    spark.sql("DROP TABLE IF EXISTS graft.`w_spj`")
    graft.tables.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
      .writeTo("graft.`w_spj`").partitionedBy(bucket(16, col("l_orderkey"))).create()
    val w = spark.table("graft.`w_spj`")
    val loaded = spark.table(s"graft.`lineitem@$sf`").select("l_orderkey", "l_extendedprice")
    // merge hint: reported stats would broadcast at this tiny size
    val j = w.hint("merge").join(loaded, "l_orderkey")
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"written⋈loaded must SPJ:\n${plan.take(1200)}")
    // and the shuffle-free join is still correct: per-orderkey line
    // counts squared (both sides are full lineitem)
    val expected = graft.tables.Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").count()
      .select(sum(col("count") * col("count"))).as[Long].head()
    assert(j.count() === expected)
  }

  test("MERGE INTO: conditional clauses and WHEN MATCHED DELETE through the COW path") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_mrg2`")
    (1 to 20).map(i => (i.toLong, s"v$i", i * 10)).toDF("k", "v", "n")
      .writeTo("graft.`w_mrg2`").partitionedBy(bucket(4, col("k"))).create()
    spark.sql("DROP TABLE IF EXISTS graft.`w_mrg2_src`")
    Seq((2L, 1), (3L, 0), (50L, 1), (60L, 0)).toDF("k", "flag")
      .writeTo("graft.`w_mrg2_src`").partitionedBy(bucket(4, col("k"))).create()
    // matched+flag=1 → DELETE; matched+flag=0 → conditional UPDATE;
    // not-matched AND flag=1 → INSERT (flag=0 not-matched rows dropped)
    spark.sql(
      """MERGE INTO graft.`w_mrg2` t USING graft.`w_mrg2_src` s ON t.k = s.k
        |WHEN MATCHED AND s.flag = 1 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = 'cond'
        |WHEN NOT MATCHED AND s.flag = 1 THEN INSERT (k, v, n) VALUES (s.k, 'ins', 0)
        |""".stripMargin)
    val got = spark.table("graft.`w_mrg2`").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!got.contains(2L), "matched flag=1 must DELETE")
    assert(got(3L) === "cond", "matched flag=0 must take the conditional UPDATE")
    assert(got(50L) === "ins", "not-matched flag=1 must INSERT")
    assert(!got.contains(60L), "not-matched flag=0 must be dropped")
    assert(got.size === 20) // 20 − deleted(k=2) + inserted(k=50)
    // bucket integrity after the mixed rewrite
    val t = BucketStore.get("w_mrg2")
    t.buckets.zipWithIndex.foreach { case (rows, b) =>
      rows.foreach(r => assert(BucketFunction.bucketFor(r.getLong(0), 4).contains(b)))
    }
  }

  test("update-mode upsert rewrites ONLY the buckets owning the epoch's changed keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("DROP TABLE IF EXISTS graft.`w_ups`")
    spark.sql("CREATE TABLE graft.`w_ups` (k BIGINT, n BIGINT) " +
      "PARTITIONED BY (bucket(8, k))")
    (1 to 64).map(i => (i.toLong, 0L)).toDF("k", "n").writeTo("graft.`w_ups`").append()
    val before = BucketStore.get("w_ups").buckets
    assert(before.forall(_.nonEmpty)) // all 8 buckets seeded

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val agg = input.toDF.select(col("value").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ups_ckpt_")
    val q = agg.writeStream
      .outputMode("update")
      .option("upsert", "true")
      .option("checkpointLocation", ckpt.toString)
      .toTable("graft.`w_ups`")
    try {
      // one epoch, ONE changed key → the sink must rewrite exactly the
      // owning bucket; the other 7 must keep their array references
      // (the ≤ owning-buckets(k) publish contract of upsertRows)
      input.addData(5L)
      q.processAllAvailable()
      val after = BucketStore.get("w_ups").buckets
      val owning = BucketFunction.bucketFor(5L, 8).get
      before.indices.foreach { b =>
        if (b == owning) assert(!(after(b) eq before(b)), s"owning bucket $b not rewritten")
        else assert(after(b) eq before(b), s"bucket $b rewritten without a changed key")
      }
      // upsert REPLACED the seeded row, no duplicate key
      assert(spark.table("graft.`w_ups`").filter(col("k") === 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((5L, 1L)))
      assert(spark.table("graft.`w_ups`").count() === 64)
      // second epoch re-aggregates k=5 (count 1 → 2): latest wins
      input.addData(5L)
      q.processAllAvailable()
      assert(spark.table("graft.`w_ups`").filter(col("k") === 5)
        .head().getLong(1) === 2L)
      assert(spark.table("graft.`w_ups`").count() === 64)
    } finally q.stop()
  }

  test("upsert: a key delivered twice in ONE batch keeps only its last row") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_ups2`")
    spark.sql("CREATE TABLE graft.`w_ups2` (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.`w_ups2` VALUES (1, 'seed'), (2, 'keep')")
    // batch write with upsert: same key twice in the incoming batch
    Seq((1L, "first"), (1L, "last"), (3L, "new")).toDF("k", "v")
      .coalesce(1) // one partition → deterministic in-batch row order
      .writeTo("graft.`w_ups2`").option("upsert", "true").append()
    val got = spark.table("graft.`w_ups2`").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "last"), (2L, "keep"), (3L, "new")), got.toString)
  }

  test("malformed upsert value is loud on the catalog write path too") {
    spark.sql("DROP TABLE IF EXISTS graft.`w_upsm`")
    spark.sql("CREATE TABLE graft.`w_upsm` (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "v")
        .writeTo("graft.`w_upsm`").option("upsert", "yes").append()
    }
    assert(ex.getMessage.contains("'upsert' must be true or false"), ex.getMessage)
  }

  test("upsert sink: restart from checkpoint resumes state; replay is idempotent, keys never duplicate") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ups_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ups_rec_ckpt").toString
    spark.sql("DROP TABLE IF EXISTS graft.`w_rec`")
    spark.sql("CREATE TABLE graft.`w_rec` (k BIGINT, n BIGINT) PARTITIONED BY (bucket(4, k))")

    def startQuery() = spark.readStream.schema("k LONG").parquet(srcDir)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("update")
      .option("upsert", "true")
      .option("checkpointLocation", ckpt)
      .toTable("graft.`w_rec`")

    Seq(1L, 2L, 2L).toDF("k").coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table("graft.`w_rec`").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 1L), (2L, 2L)))

    // restart from the checkpoint with a NEW write instance (the
    // per-instance epoch dedupe does not carry over — idempotent keyed
    // upsert is what makes any replayed epoch harmless); the agg state
    // resumes, so key 2's count continues from 2
    Seq(2L, 3L).toDF("k").coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val fin = spark.table("graft.`w_rec`").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fin.length === fin.map(_._1).distinct.length, s"duplicate keys: ${fin.toSeq}")
    assert(fin.toSet === Set((1L, 1L), (2L, 3L), (3L, 1L)), fin.toSeq.toString)
  }

  test("update mode without upsert=true is a loud error, not silent duplication") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("DROP TABLE IF EXISTS graft.`w_upsx`")
    spark.sql("CREATE TABLE graft.`w_upsx` (k BIGINT, n BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val agg = input.toDF.select(col("value").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsx_ckpt_")
    val ex = intercept[Exception] {
      val q = agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .toTable("graft.`w_upsx`")
      try { input.addData(1L); q.processAllAvailable() } finally q.stop()
    }
    assert(ex.getMessage != null)
  }

  test("append to a COLD table faults only the receiving buckets; untouched keep their FILES") {
    import graft.sources.bucketed.FileStore
    BucketStore.drop("w_coldapp")
    BucketStore.load(spark, "w_coldapp",
      (0 until 1600).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), "k", 8)
    val dir = BucketStore.unload("w_coldapp").get
    BucketStore.openFromDisk("w_coldapp", dir)
    val before = BucketStore.get("w_coldapp")
    assert(before.buckets.loadedCount === 0)
    val beforeFiles = before.buckets.indices
      .map(b => b -> before.buckets.block(b).file.map(_.path)).toMap
    // one-row append into ONE bucket of a fully cold table: the write
    // must fault exactly the receiving bucket — appending a row to a
    // cold 100 TB table is an O(bucket) operation, never O(table)
    spark.sql("INSERT INTO graft.`w_coldapp` VALUES (100000, 9.5)")
    val after = BucketStore.get("w_coldapp")
    val faulted = after.buckets.indices.count(b => after.buckets.block(b).isLoaded)
    assert(faulted === 1,
      s"a one-bucket append to a cold table must fault exactly 1 bucket, faulted $faulted")
    // untouched buckets RETAIN their blocks (same backing file in the
    // new manifest — no reload, no respill)
    val changed = after.buckets.indices.count { b =>
      after.buckets.block(b).file.map(_.path) != beforeFiles(b)
    }
    assert(changed === 1,
      s"only the receiving bucket's file may change in the new version, changed $changed")
    assert(spark.table("graft.`w_coldapp`").count() === 1601L)
    assert(spark.table("graft.`w_coldapp`").filter(col("k") === 100000L).count() === 1L)
    BucketStore.drop("w_coldapp")
  }
}
