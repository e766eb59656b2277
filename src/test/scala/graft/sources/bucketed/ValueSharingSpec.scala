package graft.sources.bucketed

import java.math.BigDecimal
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The store's chunk fill shares equal immutable values across the
  * rows it builds ([[ValueSharing]]): in a write task, whose sharing the
  * serializer carries to the driver, and in the block-file reader
  * ([[FileStore.readBlock]]). Sharing must never change a value
  * (signed zeros, NaN payloads and decimal scales come back exact),
  * must never hand out a mutable value twice, and must stop per column
  * at [[ValueSharing.MaxEntries]].
  */
class ValueSharingSpec extends SparkSuite {
  import spark.implicits._

  private def decode(schema: StructType, rows: Seq[Seq[Any]]): Array[Row] =
    DecodedRows.viaPayload(schema, rows)

  /** Distinct object identities among the non-null values of column `c`. */
  private def instances(rows: Array[Row], c: Int): Int = {
    val ids = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    rows.foreach(r => if (!r.isNullAt(c)) ids.add(ref(r, c)))
    ids.size
  }

  private def ref(r: Row, c: Int): AnyRef = r.get(c).asInstanceOf[AnyRef]

  /** Column `c` of `rows` is one primitive `double[]` of one chunk,
    * holding exactly the bits of `want`.
    */
  private def assertInChunkDoubles(rows: Array[Row], c: Int, want: Seq[Double]): Unit = {
    val cols = rows.map(_.asInstanceOf[RowView].column(c))
    assert(cols.forall(_.isInstanceOf[ColumnChunk.Doubles]), s"column $c")
    assert(cols.forall(_ eq cols(0)), s"column $c spans one chunk")
    assert(rows.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(c))).toSeq ===
      want.map(java.lang.Double.doubleToRawLongBits), s"column $c")
  }

  private def bits(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f)
    case a: Array[Byte] => a.toSeq
    case other => other
  }

  test("the payload round trip is exact: nulls, signed zeros, NaN payloads, decimal scales") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("b", BooleanType), StructField("sh", ShortType),
      StructField("by", ByteType), StructField("s", StringType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("dt", DateType), StructField("dec", DecimalType(12, 2)),
      StructField("bin", BinaryType)))
    val nanA = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val nanB = java.lang.Double.longBitsToDouble(0xfff8000000abcdefL)
    val fNanA = java.lang.Float.intBitsToFloat(0x7fc00001)
    val fNanB = java.lang.Float.intBitsToFloat(0xffc00123)
    def row(l: Any, d: Any, f: Any, s: Any, dec: Any): Seq[Any] =
      Seq(l, 3, d, f, true, 9.toShort, 4.toByte, s,
        java.sql.Timestamp.valueOf("2024-01-05 10:11:12.123456"),
        LocalDateTime.of(2024, 1, 5, 10, 11, 12, 123456000),
        java.sql.Date.valueOf("2024-02-29"), dec, Array[Byte](0, 1, -1))
    val rows = Seq(
      row(7L, 0.0d, 0.0f, "a", new BigDecimal("1.0")),
      row(7L, -0.0d, -0.0f, "a", new BigDecimal("1.00")),
      row(7L, 0.0d, 0.0f, "a", new BigDecimal("1.0")),
      row(8L, nanA, fNanA, "b", new BigDecimal("1.00")),
      row(8L, nanB, fNanB, "b", new BigDecimal("-12345.67")),
      Seq.fill(schema.length)(null))
    val back = decode(schema, rows)
    assert(back.length === rows.length)
    // the write path holds a decimal at its column's scale, as Spark
    // does: 1.0 written to a DECIMAL(12, 2) column comes back as 1.00
    def atColumnScale(v: Seq[Any]): Seq[Any] =
      v.updated(11, Option(v(11)).map(_.asInstanceOf[BigDecimal].setScale(2)).orNull)
    back.zip(rows).zipWithIndex.foreach { case ((got, want), i) =>
      assert(got.toSeq.map(bits) === atColumnScale(want).map(bits), s"row $i")
      assert(got.schema === schema)
    }
    assert(back.map(_.getDecimal(11)).take(4).map(_.scale).toSeq === Seq(2, 2, 2, 2))
    // Double.equals folds NaN payloads, so a shared box would lose one;
    // the DOUBLE column has no per-row box to share: it is one double[]
    assert(back.forall(r => r.asInstanceOf[RowView].column(2).isInstanceOf[ColumnChunk.Doubles]))
  }

  test("decimals equal under compareTo are never folded: 1.0 and 1.00 keep their scales") {
    val share = new ValueSharing(1)
    def shared(d: String): BigDecimal = share(0, new BigDecimal(d)).asInstanceOf[BigDecimal]
    val (one, oneOO) = (shared("1.0"), shared("1.00"))
    assert(one.scale === 1 && oneOO.scale === 2)
    assert(shared("1.0") eq one)
    assert(shared("1.00") eq oneOO)
  }

  test("low-cardinality strings and TIMESTAMP_NTZ values come back as one instance each") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("flag", StringType),
      StructField("ship", TimestampNTZType), StructField("qty", DoubleType)))
    // new instances per row, as a writer task produces them
    val rows = (0 until 1000).map(i =>
      Seq(i.toLong, s"F${i % 3}", LocalDateTime.of(2024, 1, 1 + i % 7, 0, 0), (i % 50).toDouble))
    val back = decode(schema, rows)
    assert(back.map(r => (r.getLong(0), r.getString(1), r.get(2), r.getDouble(3))).toSeq ===
      rows.map(v => (v(0), v(1), v(2), v(3))))
    assert(instances(back, 1) === 3)
    assert(instances(back, 2) === 7)
    // a double column holds no boxes to share: its values sit in one
    // double[] of the decoded chunk and come back bit-exact
    assertInChunkDoubles(back, 3, rows.map(_(3).asInstanceOf[Double]))
    assert(instances(back, 0) === 1000, "distinct keys stay distinct")
  }

  test("mutable values are never shared: Timestamp, Date and binary") {
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("dt", DateType), StructField("bin", BinaryType)))
    val rows = (0 until 20).map(_ => Seq(java.sql.Timestamp.valueOf("2024-01-05 10:11:12"),
      java.sql.Date.valueOf("2024-02-29"), Array[Byte](1, 2, 3)))
    val back = decode(schema, rows)
    (0 until 3).foreach(c => assert(instances(back, c) === 20, s"column $c"))
    back(0).getAs[java.sql.Timestamp](0).setTime(0L)
    assert(back(1).getAs[java.sql.Timestamp](0) ===
      java.sql.Timestamp.valueOf("2024-01-05 10:11:12"))
  }

  test("a column past the dictionary bound stops sharing; the other columns keep sharing") {
    val schema = StructType(Seq(StructField("hi", StringType), StructField("lo", StringType)))
    val distinct = ValueSharing.MaxEntries + 1
    val rows = Seq(Seq("v0", "x"), Seq("v0", "y")) ++
      (1 until distinct).map(i => Seq(s"v$i", "x")) ++
      Seq(Seq("v0", "y"), Seq("v0", "x"))
    val back = decode(schema, rows)
    assert(back.map(_.getString(0)).toSeq === rows.map(_.head))
    assert(ref(back(0), 0) eq ref(back(1), 0), "shared while under the bound")
    assert(ref(back(0), 0) ne ref(back.last, 0), "not shared once past the bound")
    assert(ref(back(back.length - 2), 0) ne ref(back.last, 0))
    assert(instances(back, 1) === 2)
  }

  test("a block reloaded from its file after evictTable shares values too") {
    val name = "vs_reload"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 2000).map(i => (i.toLong, s"seg-${i % 5}", i % 40 * 0.25,
        LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(i % 30))).toDF("k", "seg", "qty", "ship"),
      "k", 4)
    BucketStore.evictTable(name)
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    val reads0 = FileStore.filesRead.get()
    // a scan through the row stream: a pushed aggregate or a cold
    // vectorized read never loads a block
    assert(ScanReference.loadingScan(spark, name).collect().length === 2000)
    val t = BucketStore.get(name)
    assert(t.buckets.loadedCount === 4, "the row scan must reload every block")
    assert(FileStore.filesRead.get() > reads0)
    (0 until 4).foreach { b =>
      val rows = t.buckets(b)
      assert(instances(rows, 1) === rows.map(_.getString(1)).distinct.length, s"bucket $b seg")
      assertInChunkDoubles(rows, 2, rows.map(r => r.getLong(0) % 40 * 0.25).toSeq)
      assert(instances(rows, 3) === rows.map(_.get(3)).distinct.length, s"bucket $b ship")
    }
    BucketStore.drop(name)
  }
}
