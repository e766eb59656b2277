package graft.sources.bucketed

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** A [[RowColumnVector]] must hand Spark exactly what Spark's own
  * `CatalystTypeConverters` make of the same cell, through the getter
  * Spark's generated code calls for the column's type: the hot scan's
  * pages and the MoR overlay are read through nothing else. Checked
  * for every type [[RowColumnVector.supported]] accepts, over plain
  * rows (both DATE and both TIMESTAMP external classes, rows shorter
  * than the schema as written before an ADD COLUMN) and over the
  * store's own [[RowView]]s, with NULLs, NaN payloads, ±0.0 and each
  * type's extremes. A compact decimal's unscaled value is read through
  * `getInt` (precision ≤ 9) and `getLong` (≤ 18) as well, as the
  * store's vector code reads it.
  */
object RowColumnVectorProps extends Properties("graft.rowvector") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(200)

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("by", ByteType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("b", BooleanType), StructField("s", StringType),
    StructField("bin", BinaryType), StructField("ts", TimestampType),
    StructField("nt", TimestampNTZType), StructField("dt", DateType),
    StructField("d9", DecimalType(9, 2)), StructField("d18", DecimalType(18, 4)),
    StructField("d25", DecimalType(25, 5))))

  private val toCatalyst = schema.fields.map(f =>
    CatalystTypeConverters.createToCatalystConverter(f.dataType))

  private def opt[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(5 -> g.map(_.asInstanceOf[Any]), 1 -> Gen.const(null: Any))

  /** A decimal of at most `p - s` integer digits at a scale of 0 to `s`
    * (a value at another scale than its column's converts to it).
    */
  private def genDecimal(p: Int, s: Int): Gen[JBigDecimal] = {
    val max = JBigDecimal.TEN.pow(p).subtract(JBigDecimal.ONE).movePointLeft(s)
    Gen.frequency(
      1 -> Gen.oneOf(max, max.negate, JBigDecimal.ZERO),
      4 -> (for {
        scale <- Gen.choose(0, s)
        digits <- Gen.choose(1, p - s + scale)
        unscaled <- Gen.listOfN(digits, Gen.numChar).map(_.mkString)
        neg <- Gen.oneOf(true, false)
      } yield {
        val x = new JBigDecimal(new java.math.BigInteger(unscaled), scale)
        if (neg) x.negate else x
      }))
  }

  private val genRow: Gen[Seq[Any]] = for {
    l <- opt(Gen.oneOf(Gen.oneOf(Long.MinValue, -1L, 0L, Long.MaxValue), Gen.choose(-1000L, 1000L)))
    i <- opt(Gen.oneOf(Gen.oneOf(Int.MinValue, -1, 0, Int.MaxValue), Gen.choose(-1000, 1000)))
    sh <- opt(Gen.oneOf(Short.MinValue, (-1).toShort, 0.toShort, Short.MaxValue))
    by <- opt(Gen.oneOf(Byte.MinValue, (-1).toByte, 0.toByte, Byte.MaxValue))
    d <- opt(Gen.oneOf(Gen.oneOf(
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
      java.lang.Double.longBitsToDouble(0xfff8000000abcdefL),
      0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue, Double.MinValue), Gen.choose(-50.0, 50.0)))
    f <- opt(Gen.oneOf(Gen.oneOf(
      java.lang.Float.intBitsToFloat(0x7fc00001), java.lang.Float.intBitsToFloat(0xffc00123),
      0.0f, -0.0f, Float.PositiveInfinity, Float.MinPositiveValue, Float.MaxValue),
      Gen.choose(-50.0f, 50.0f)))
    b <- opt(Gen.oneOf(true, false))
    s <- opt(Gen.oneOf(Gen.oneOf("", "a", "café", "𝄞", "a𝄞b"),
      Gen.listOfN(5, Gen.alphaNumChar).map(_.mkString)))
    bin <- opt(Gen.oneOf(Gen.const(Array.emptyByteArray),
      Gen.listOfN(6, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))
    // both TIMESTAMP externals, with micros below the millisecond
    ts <- opt(Gen.oneOf(
      Gen.oneOf("0001-01-01 00:00:00", "1677-09-22 00:00:00", "1969-12-31 23:59:59.999999",
        "2024-01-05 10:11:12.123456", "9999-12-31 23:59:59.999999")
        .map(java.sql.Timestamp.valueOf),
      Gen.choose(-4000000000000000L, 4000000000000000L).map(us =>
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L))))
    nt <- opt(Gen.oneOf(java.time.LocalDateTime.of(1, 1, 1, 0, 0),
      java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000),
      java.time.LocalDateTime.of(2024, 1, 5, 10, 11, 12, 123456000),
      java.time.LocalDateTime.of(9999, 12, 31, 23, 59, 59, 999999000)))
    // both DATE externals
    dt <- opt(Gen.oneOf("0001-01-01", "1582-10-15", "1969-12-31", "2024-02-29", "9999-12-31")
      .flatMap(iso => Gen.oneOf(java.sql.Date.valueOf(iso): Any, java.time.LocalDate.parse(iso): Any)))
    d9 <- opt(genDecimal(9, 2))
    d18 <- opt(genDecimal(18, 4))
    d25 <- opt(genDecimal(25, 5))
  } yield Seq(l, i, sh, by, d, f, b, s, bin, ts, nt, dt, d9, d18, d25)

  /** Cell `c` of row `r` through the vector's getter for its type, as
    * the value Spark holds it in: equal to `want` (the converter's
    * value) exactly, bit for bit for floating point.
    */
  private def agrees(v: RowColumnVector, r: Int, dt: DataType, want: Any): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType => v.getLong(r) == want
    case IntegerType | DateType => v.getInt(r) == want
    case ShortType => v.getShort(r) == want
    case ByteType => v.getByte(r) == want
    case BooleanType => v.getBoolean(r) == want
    case DoubleType => java.lang.Double.doubleToRawLongBits(v.getDouble(r)) ==
        java.lang.Double.doubleToRawLongBits(want.asInstanceOf[Double])
    case FloatType => java.lang.Float.floatToRawIntBits(v.getFloat(r)) ==
        java.lang.Float.floatToRawIntBits(want.asInstanceOf[Float])
    case StringType => v.getUTF8String(r) == want.asInstanceOf[UTF8String]
    case BinaryType => java.util.Arrays.equals(v.getBinary(r), want.asInstanceOf[Array[Byte]])
    case t: DecimalType =>
      val d = want.asInstanceOf[Decimal]
      v.getDecimal(r, t.precision, t.scale) == d &&
        (t.precision > Decimal.MAX_INT_DIGITS || v.getInt(r) == d.toUnscaledLong) &&
        (t.precision > Decimal.MAX_LONG_DIGITS || v.getLong(r) == d.toUnscaledLong)
    case other => throw new IllegalArgumentException(s"no getter check for $other")
  }

  /** Every column of `page` read through the vectors against the
    * converters' values of the same cells (`cells`, full or short).
    */
  private def parity(page: Array[Row], cells: Seq[Seq[Any]]): Boolean =
    schema.fields.indices.forall { c =>
      val dt = schema(c).dataType
      val v = new RowColumnVector(dt, page, c)
      cells.indices.forall { r =>
        val x = if (c < cells(r).length) cells(r)(c) else null
        val ok =
          if (x == null) v.isNullAt(r)
          else !v.isNullAt(r) && agrees(v, r, dt, toCatalyst(c)(x))
        if (!ok) println(s"DIVERGE column ${schema(c).name} row $r: $x")
        ok
      }
    }

  property("every type is supported") = schema.fields.forall(f => RowColumnVector.supported(f.dataType))

  property("plain rows, short pre-ALTER rows among them: getters == CatalystTypeConverters") =
    forAll(Gen.nonEmptyListOf(Gen.zip(genRow, Gen.choose(1, 2 * schema.length)))) { rows =>
      // a cut past the schema keeps the row whole; one inside drops the
      // columns added after the row was written
      val cells = rows.map { case (v, cut) => v.take(cut) }
      val page = cells.map(v => new GenericRowWithSchema(v.toArray,
        StructType(schema.fields.take(v.length))): Row).toArray
      parity(page, cells)
    }

  property("the store's RowViews: getters == CatalystTypeConverters") =
    forAll(Gen.nonEmptyListOf(genRow)) { cells =>
      val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
      val chunk = new ColumnChunk.Builder(schema, cells.length, new ValueSharing(schema.length))
      cells.zipWithIndex.foreach { case (v, r) =>
        chunk.fill(r, toRow(new GenericRowWithSchema(v.toArray, schema)).asInstanceOf[InternalRow])
      }
      val page = chunk.result().rows
      page.forall(_.isInstanceOf[RowView]) && parity(page, cells)
    }
}
