package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** The z-order vectorized merge compares BASE keys computed from
  * column vectors ([[VectorizedColdScan.zBatchKey]]) against DELTA
  * keys computed from external rows (the store's `zKeyOf` →
  * [[ZOrder.keyRanked]]/[[ZOrder.key]]) — a cross-representation
  * comparison, so the two key functions must agree BIT-FOR-BIT on
  * every supported dimension type or the merge silently reorders.
  * The risky mappings: timestamps (internal micros vs external
  * `Timestamp.getTime` millis), dates (internal days vs external
  * `java.sql.Date.getTime`, timezone-sensitive), floats (IEEE
  * total-order bits, NaN/±0.0/±Inf), strings (UTF8String bytes vs
  * String UTF-8 bytes, multibyte + surrogate pairs), and NULLs
  * (curve origin). Property-pinned here over adversarial pools, with
  * and without frozen rank bounds.
  */
object ZBatchKeyProps extends Properties("graft.zbatchkey") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300)

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("s", StringType), StructField("ts", TimestampType),
    StructField("dt", DateType), StructField("b", BooleanType),
    StructField("nt", TimestampNTZType),
    StructField("dec", DecimalType(18, 2))))

  private def opt[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(5 -> g.map(_.asInstanceOf[Any]), 1 -> Gen.const(null: Any))

  private val genRow: Gen[Row] = for {
    l <- opt(Gen.oneOf(Gen.oneOf(Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
      Gen.choose(-1000L, 1000L)))
    i <- opt(Gen.oneOf(Gen.oneOf(Int.MinValue, -1, 0, 1, Int.MaxValue),
      Gen.choose(-1000, 1000)))
    d <- opt(Gen.oneOf(Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue), Gen.choose(-50.0, 50.0)))
    f <- opt(Gen.oneOf(Gen.oneOf(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity),
      Gen.choose(-50.0f, 50.0f)))
    s <- opt(Gen.oneOf(Gen.oneOf("", "a", "zz", "café", "𝄞", "a𝄞b", "abcdefghijk"),
      Gen.listOfN(4, Gen.alphaNumChar).map(_.mkString)))
    t <- opt(Gen.choose(-4L, 8L).map(h =>
      java.sql.Timestamp.valueOf(s"200${math.abs(h)}-01-01 0${math.abs(h)}:00:01.12345${math.abs(h) % 10}")))
    // BOTH date externals in one pool (round 19): legacy java.sql.Date
    // and java8API LocalDate must key to the SAME epoch-day position
    dt <- opt(Gen.choose(0, 9).flatMap { x =>
      val iso = s"199$x-0${x % 9 + 1}-15"
      Gen.oneOf(java.sql.Date.valueOf(iso): Any, java.time.LocalDate.parse(iso): Any)
    })
    b <- opt(Gen.oneOf(true, false))
    // NTZ is a real Morton dimension since round 19 — keyed by micros
    nt <- opt(Gen.choose(0, 9).flatMap(h => Gen.choose(0, 999999).map(us =>
      java.time.LocalDateTime.of(2020, 1 + h, 1 + h, h, 30, 15, us * 1000))))
    // compact decimals at the column scale, including adjacent
    // unscaled values beyond 2^53 — double-identical (the v1 tie),
    // distinct under the v2 unscaled key; parity must hold at BOTH
    // key versions
    dec <- opt(Gen.oneOf(
      Gen.oneOf(9007199254740992L, 9007199254740993L, -9007199254740993L,
        Long.MinValue / 100, Long.MaxValue / 100),
      Gen.choose(-100000L, 100000L))
      .map(u => new java.math.BigDecimal(java.math.BigInteger.valueOf(u), 2)))
  } yield Row(l, i, d, f, s, t, dt, b, nt, dec)

  /** The rows as a batch read in place through [[RowColumnVector]]s:
    * the hot reader's pages.
    */
  private def toBatch(rows: Seq[Row]): ColumnarBatch = {
    val page = rows.toArray
    val b = new ColumnarBatch(schema.fields.zipWithIndex.map[ColumnVector] {
      case (f, c) => new RowColumnVector(f.dataType, page, c)
    })
    b.setNumRows(page.length)
    b
  }

  private val genDims: Gen[Seq[Int]] =
    Gen.choose(1, 3).flatMap(n => Gen.pick(n, schema.indices)).map(_.toSeq)

  property("zBatchKey == external ZOrder key, raw and rank-normalized, every type, BOTH key versions") =
    forAll(Gen.nonEmptyListOf(genRow), genDims, Gen.oneOf(true, false),
        Gen.oneOf(1, 2)) { (rows, dims, ranked, zkv) =>
      val idxs = dims.toArray
      val fns = ZOrder.keyFns(schema, idxs, zkv)
      // frozen bounds the way the store computes them: from the rows'
      // own dim keys (a realistic equi-depth split per dimension)
      val bounds: Option[Array[Array[Long]]] =
        if (!ranked) None
        else Some(ZOrder.boundsForRows(rows.iterator, idxs, fns))
      val external: Row => Array[Long] = bounds match {
        case Some(bs) => r => ZOrder.keyRanked(r, idxs, bs, fns)
        case None => r => ZOrder.key(r, idxs, fns)
      }
      VectorizedColdScan.zBatchKey(schema, idxs, bounds, zkv) match {
        case None => false // every schema type here must be supported
        case Some(vec) =>
          val batch = toBatch(rows)
          try rows.indices.forall { r =>
            val want = external(rows(r))
            val got = vec(batch, r)
            if (!java.util.Arrays.equals(want, got))
              println(s"DIVERGE dims=${idxs.mkString(",")} ranked=$ranked row=${rows(r)} " +
                s"want=${want.mkString(",")} got=${got.mkString(",")}")
            java.util.Arrays.equals(want, got)
          } finally batch.close()
      }
    }
}
