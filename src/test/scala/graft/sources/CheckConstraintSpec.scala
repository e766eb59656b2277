package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sources.bucketed.{BucketStore, CheckConstraint}

/** Write-path CHECK constraints (q185): compile-time validation, SQL
  * NULL semantics, existing-data gating on install, and the DML paths
  * the q185 gate itself doesn't exercise.
  */
class CheckConstraintSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("s", StringType)))

  private def row(k: Long, v: java.lang.Double, s: String) =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](k, v, s), schema)

  test("compile: evaluates comparisons, boolean ops, and builtin functions") {
    val pass = CheckConstraint.compile(schema, "v > 0 AND length(s) <= 3")
    assert(pass(row(1, 2.0, "ab")))
    assert(!pass(row(1, -2.0, "ab")))
    assert(!pass(row(1, 2.0, "abcd")))
  }

  test("NULL passes (SQL CHECK semantics); IS NOT NULL is its own check") {
    val pass = CheckConstraint.compile(schema, "v > 0")
    assert(pass(row(1, null, "x")), "NULL must PASS a plain comparison check")
    val strict = CheckConstraint.compile(schema, "v IS NOT NULL AND v > 0")
    assert(!strict(row(1, null, "x")))
  }

  test("attribute binding is case-insensitive, like the Spark SQL default") {
    val pass = CheckConstraint.compile(schema, "V > 0 AND length(S) <= 3")
    assert(pass(row(1, 2.0, "ab")))
    assert(!pass(row(1, -2.0, "ab")))
  }

  test("unknown column, unknown function, and non-boolean type are loud at bind") {
    intercept[IllegalArgumentException] { CheckConstraint.bind(schema, "nope > 0") }
    intercept[Exception] { CheckConstraint.bind(schema, "no_such_fn(v) > 0") }
    intercept[IllegalArgumentException] { CheckConstraint.bind(schema, "k + 1") }
  }

  test("setCheck validates EXISTING rows — a violated constraint is rejected, not recorded") {
    val name = "chk_existing"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      Seq((1L, 5.0), (2L, -1.0)).toDF("k", "v"), "k", numBuckets = 2)
    val e = intercept[IllegalArgumentException] { BucketStore.setCheck(name, "v > 0") }
    assert(e.getMessage.contains("CHECK constraint violation"))
    assert(BucketStore.checkOf(name).isEmpty, "rejected constraint must not be recorded")
    BucketStore.setCheck(name, "v > -10") // satisfied → records
    assert(BucketStore.checkOf(name).contains("v > -10"))
    BucketStore.drop(name)
  }

  test("constrained table rejects violating MERGE through the DML path") {
    val name = "chk_dml"
    BucketStore.drop(name)
    BucketStore.load(spark, name, Seq((1L, 5.0), (2L, 7.0)).toDF("k", "v"), "k", numBuckets = 2)
    BucketStore.setCheck(name, "v > 0")
    Seq((2L, -3.0)).toDF("k", "nv").createOrReplaceTempView("chk_dml_src")
    val e = intercept[Throwable] {
      spark.sql(s"MERGE INTO graft.`$name` t USING chk_dml_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET t.v = s.nv")
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("CHECK constraint violation"), s"wrong failure: $msgs")
    // nothing published: the matched row keeps its old value
    assert(spark.table(s"graft.`$name`").filter(col("k") === 2L)
      .select(col("v")).as[Double].head() == 7.0)
    BucketStore.drop(name)
  }

  test("DSv2 catalog append enforces the check task-side") {
    val name = "chk_append"
    BucketStore.drop(name)
    BucketStore.load(spark, name, Seq((1L, 5.0)).toDF("k", "v"), "k", numBuckets = 2)
    BucketStore.setCheck(name, "v > 0")
    val e = intercept[Throwable] {
      Seq((7L, -9.0)).toDF("k", "v").writeTo(s"graft.`$name`").append()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("CHECK constraint violation"), s"wrong failure: $msgs")
    // and the valid row still goes through
    Seq((8L, 2.0)).toDF("k", "v").writeTo(s"graft.`$name`").append()
    assert(spark.table(s"graft.`$name`").count() == 2)
    BucketStore.drop(name)
  }

  test("the writer evaluates the check on the Catalyst row it holds, plain and offset records") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.bucketed.{BucketWriteCommit, BucketedDataWriter}
    def plain(k: Long, v: java.lang.Double, s: String): InternalRow =
      InternalRow(k, v, UTF8String.fromString(s))
    // a group-based row-level rewrite's record: `__row_operation` first
    def offset(k: Long, v: java.lang.Double, s: String): InternalRow =
      new GenericInternalRow(Array[Any](1, k, v, UTF8String.fromString(s)))
    Seq[(String, (Long, java.lang.Double, String) => InternalRow)](
      "plain" -> plain, "offset" -> offset).foreach { case (name, rec) =>
      val w = new BucketedDataWriter(schema, "k", 2, tableName = "chk_w",
        checkExpr = Some("v > 0"))
      val e = intercept[IllegalArgumentException](w.write(rec(7L, -9.0, "x")))
      assert(e.getMessage ===
        "CHECK constraint violation on 'chk_w': (v > 0) is false for row [7,-9.0,x]", name)
      w.write(rec(8L, null, "n")) // NULL passes
      w.write(rec(9L, 2.0, "ok"))
      val staged = BucketWriteCommit.merge(Array(w.commit()), 2).flatten
        .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2))).toSet
      assert(staged === Set((8L, None, "n"), (9L, Some(2.0), "ok")), name)
    }
  }

  test("a copy-on-write UPDATE that violates the check fails with the row; NULL passes") {
    val name = "chk_cow"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      Seq((1L, Option(5.0)), (2L, Option(7.0))).toDF("k", "v"), "k", numBuckets = 2)
    BucketStore.setCheck(name, "v > 0")
    // the write task rejects the row; the driver's commit never sees it
    val failedTasks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        e.reason match {
          case f: org.apache.spark.ExceptionFailure => failedTasks.add(f.toErrorString); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val e = try intercept[Throwable] {
      spark.sql(s"UPDATE graft.`$name` SET v = -1.0 WHERE k = 2")
    } finally {
      org.apache.spark.sql.ListenerBusTestBridge.drain(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains(
      s"CHECK constraint violation on '$name': (v > 0) is false for row [2,-1.0]"),
      s"wrong failure: $msgs")
    assert(failedTasks.toArray.exists(_.toString.contains("CHECK constraint violation")),
      s"a write task must fail on the row, not the driver's commit: $msgs")
    spark.sql(s"UPDATE graft.`$name` SET v = NULL WHERE k = 2")
    assert(spark.table(s"graft.`$name`").collect().map(r => (r.getLong(0), Option(r.get(1))))
      .toSet === Set((1L, Some(5.0)), (2L, None)))
    BucketStore.drop(name)
  }

  test("ADD CONSTRAINT on a COLD table streams only the expression's columns — zero faults") {
    import graft.sources.bucketed.FileStore
    val name = "chk_cold"
    BucketStore.drop(name)
    BucketStore.load(spark,
      name,
      (1 to 1200).map(i => (i.toLong, i * 1.0, s"s$i")).toDF("k", "v", "s"),
      "k", 6)
    val dir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, dir)
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    val pr0 = FileStore.projectedReads.get()
    BucketStore.setCheck(name, "v > 0") // proof over existing rows
    assert(BucketStore.get(name).buckets.loadedCount === 0,
      "proving a CHECK over a cold table must stream its referenced columns, not fold buckets")
    assert(FileStore.projectedReads.get() - pr0 >= 6L,
      "each bucket's proof must come from a projected stream")
    // a VIOLATED constraint is still rejected through the streamed proof
    val e = intercept[IllegalArgumentException] { BucketStore.setCheck(name, "v > 100") }
    assert(e.getMessage.contains("violation"))
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    // the recorded constraint still enforces writes
    val w = intercept[Exception] {
      Seq((9000L, -1.0, "x")).toDF("k", "v", "s").writeTo(s"graft.`$name`").append()
    }
    assert(w.getMessage != null)
    BucketStore.drop(name)
  }

  test("ADD CONSTRAINT on a pre-ALTER column is NOT vacuously satisfied by a short stream") {
    val name = "chk_prealter"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 600).map(i => (i.toLong, i * 1.0)).toDF("k", "v"), "k", 3)
    BucketStore.addColumns(name, Seq(StructField("extra", StringType, nullable = true)))
    BucketStore.evictTable(name)
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    // the pre-ALTER files have no 'extra' column, so the projected
    // stream yields ZERO rows (the standing missing-column contract) —
    // the proof must detect the short stream and fall back to the
    // fold, whose NULL-padded rows VIOLATE `extra IS NOT NULL`. Before
    // the row-count guard this validated nothing and recorded the
    // constraint.
    val e = intercept[IllegalArgumentException] {
      BucketStore.setCheck(name, "extra IS NOT NULL")
    }
    assert(e.getMessage.contains("CHECK constraint violation"))
    assert(BucketStore.checkOf(name).isEmpty, "vacuous proof must not record the constraint")
    // a constraint the NULL-padded rows DO satisfy records fine
    BucketStore.setCheck(name, "extra IS NULL OR length(extra) > 0")
    assert(BucketStore.checkOf(name).contains("extra IS NULL OR length(extra) > 0"))
    BucketStore.drop(name)
  }

  test("a genuine violation is a CheckConstraint.Violation; other stream failures are not") {
    // the cold streamed proof rethrows ONLY Violation — a transient
    // IAE from the parquet stream/type converters must take the fold
    // fallback instead of masquerading as a violation
    val v = intercept[CheckConstraint.Violation] {
      CheckConstraint.validate("t", "v > 0", schema, Seq(row(1, -1.0, "x")))
    }
    assert(v.getMessage.contains("CHECK constraint violation"))
    assert(v.isInstanceOf[IllegalArgumentException], "Violation must stay an IAE for callers")
  }
}
