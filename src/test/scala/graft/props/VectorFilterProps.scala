package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.GraftSession
import graft.props.SparkWhere

/** The store's pushed-filter evaluator ([[VectorFilterEval]]) must keep
  * exactly the rows Spark's own WHERE keeps, on EVERY filter shape and
  * operand the scan can claim: Spark plans no re-check above a claimed
  * filter, so a disagreement is a silent wrong answer. Property-checked
  * over adversarial pools: NaN / ±0.0 / ±Inf doubles, integral
  * extremes, empty and multi-code-point strings (surrogate pairs —
  * UTF8String byte order vs code-point order), timestamps/dates in
  * both external classes, compact and FLBA (p > 18) decimals, numeric
  * literals of another class than the column's, NULLs in both operand
  * positions, and composed And/Or/Not/In/prefix shapes. The rows are
  * read in place through [[RowColumnVector]]s, as hot pages are.
  */
object VectorFilterProps extends Properties("graft.vectorfilter") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(300)

  private lazy val spark =
    GraftSession.builder("VectorFilterProps", "local[2]", shufflePartitions = 2).getOrCreate()

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("ts", TimestampType), StructField("dt", DateType),
    StructField("dec", DecimalType(12, 2)),
    StructField("big", DecimalType(25, 4))))

  private def opt[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(4 -> g.map(_.asInstanceOf[Any]), 1 -> Gen.const(null: Any))

  private val genInt: Gen[Int] = Gen.oneOf(
    Gen.oneOf(Int.MinValue, -1, 0, 1, Int.MaxValue), Gen.choose(-100, 100))
  private val genLong: Gen[Long] = Gen.oneOf(
    Gen.oneOf(Long.MinValue, -1L, 0L, 1L, Long.MaxValue), Gen.choose(-100L, 100L))
  private val genDouble: Gen[Double] = Gen.oneOf(
    Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, 1.5, -2.25),
    Gen.choose(-50.0, 50.0))
  // well-formed strings only: lone surrogates are not representable in
  // UTF-8 and take a JVM-specific replacement, outside the contract
  private val genString: Gen[String] = Gen.oneOf(
    Gen.oneOf("", "a", "A", "zz", "�", "café", "𝄞",
      "a𝄞b", "", ""),
    Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString))
  private val genTs: Gen[java.sql.Timestamp] =
    Gen.choose(0, 8).map(h =>
      java.sql.Timestamp.valueOf(s"200$h-01-01 0$h:00:0$h.00${h}000"))
  private val genDate: Gen[java.sql.Date] =
    Gen.choose(0, 9).map(d => java.sql.Date.valueOf(s"199$d-0${d % 9 + 1}-15"))
  // column values: always exactly representable at DECIMAL(12,2)
  private val genDecVal: Gen[java.math.BigDecimal] = Gen.oneOf(
    Gen.oneOf(0L, 1L, -1L, 100L, -100L, 99999999999L, -99999999999L),
    Gen.choose(-10000L, 10000L)).map(u => java.math.BigDecimal.valueOf(u, 2))
  // literals: exact scale-2 values PLUS scale-mismatched ones (1.005
  // shapes that floor between two representable values — the round-19
  // unscaled fast compare's tie-break territory) and wider scales
  private val genDecLit: Gen[java.math.BigDecimal] = Gen.oneOf(
    genDecVal,
    Gen.choose(-10000L, 10000L).map(u => java.math.BigDecimal.valueOf(u * 10 + 5, 3)),
    Gen.choose(-100L, 100L).map(u => java.math.BigDecimal.valueOf(u, 0)),
    Gen.choose(-1000000L, 1000000L).map(u => java.math.BigDecimal.valueOf(u, 4)))

  // FLBA territory (precision 25 > 18): unscaled values past 62 bits
  // alongside small ones — the round-20 value-canonical set probe and
  // bloom-hash coverage
  private val genBigVal: Gen[java.math.BigDecimal] = Gen.oneOf(
    Gen.oneOf("999999999999999999999.0001", "-999999999999999999999.0001",
      "123456789012345678901.2345", "0.0001", "0.0000")
      .map(new java.math.BigDecimal(_)),
    Gen.choose(-10000L, 10000L).map(u => java.math.BigDecimal.valueOf(u, 4)))
  // literals include value-equal re-scalings (trailing zeros at a
  // WIDER scale) — the canonical probe must treat them as members
  private val genBigLit: Gen[java.math.BigDecimal] = Gen.oneOf(
    genBigVal, genBigVal.map(_.setScale(7)),
    Gen.choose(-100L, 100L).map(u => java.math.BigDecimal.valueOf(u, 0)))

  private val genRow: Gen[Row] = for {
    i <- opt(genInt); l <- opt(genLong); d <- opt(genDouble)
    s <- opt(genString); t <- opt(genTs); dt <- opt(genDate)
    dec <- opt(genDecVal); big <- opt(genBigVal)
  } yield Row(i, l, d, s, t, dt, dec, big)

  /** A literal for column `c`: mostly of the column's own class, and
    * otherwise one the column's order also compares — another numeric
    * class (widened exactly by Spark's coercion: an Int on LONG, a Long
    * on INT, short decimals or Ints on DOUBLE, any number on the
    * compact decimal) or the `java.time` class of a date/time.
    */
  private def lit(c: String): Gen[Any] = c match {
    case "i" => Gen.frequency(3 -> genInt.map(x => x: Any), 1 -> genLong.map(x => x: Any))
    case "l" => Gen.frequency(3 -> genLong.map(x => x: Any), 1 -> genInt.map(x => x: Any))
    case "d" => Gen.frequency(4 -> genDouble.map(x => x: Any), 1 -> genInt.map(x => x: Any),
      1 -> genDecVal.map(x => x: Any))
    case "s" => genString.map(x => x: Any)
    case "ts" => Gen.frequency(3 -> genTs.map(x => x: Any), 1 -> genTs.map(_.toInstant: Any))
    case "dec" => Gen.frequency(4 -> genDecLit.map(x => x: Any), 1 -> genInt.map(x => x: Any),
      1 -> genLong.map(x => x: Any), 1 -> genDouble.map(x => x: Any))
    case "big" => genBigLit.map(x => x: Any)
    case _ => Gen.frequency(3 -> genDate.map(x => x: Any), 1 -> genDate.map(_.toLocalDate: Any))
  }

  private val genCol: Gen[String] = Gen.oneOf("i", "l", "d", "s", "ts", "dt", "dec", "big")

  private def genLeaf: Gen[Filter] = genCol.flatMap { c =>
    Gen.oneOf(
      lit(c).map(v => EqualTo(c, v): Filter),
      lit(c).map(v => EqualNullSafe(c, v): Filter),
      lit(c).map(v => GreaterThan(c, v): Filter),
      lit(c).map(v => GreaterThanOrEqual(c, v): Filter),
      lit(c).map(v => LessThan(c, v): Filter),
      lit(c).map(v => LessThanOrEqual(c, v): Filter),
      Gen.const(IsNull(c): Filter),
      Gen.const(IsNotNull(c): Filter),
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, lit(c)))
        .map(vs => In(c, vs.toArray): Filter),
      genString.map(v => StringStartsWith("s", v): Filter),
      genString.map(v => StringEndsWith("s", v): Filter),
      genString.map(v => StringContains("s", v): Filter))
  }

  private def genFilter(depth: Int): Gen[Filter] =
    if (depth <= 0) genLeaf
    else Gen.frequency(
      4 -> genLeaf,
      1 -> (for (a <- genFilter(depth - 1); b <- genFilter(depth - 1)) yield And(a, b): Filter),
      1 -> (for (a <- genFilter(depth - 1); b <- genFilter(depth - 1)) yield Or(a, b): Filter),
      1 -> genFilter(depth - 1).map(Not(_): Filter))

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

  /** The evaluator over a batch keeps exactly the rows Spark keeps. */
  private def parity(rows: List[Row], f: Filter): Boolean = {
    val batch = toBatch(rows)
    val want = SparkWhere.kept(spark, schema, rows, Seq(f)).head
    val keep = VectorFilterEval.compile(schema, Array(f))
    try VectorFilterEval.supports(schema, f) && rows.indices.forall { r =>
      val got = keep(batch, r)
      if (got != want(r)) println(s"DIVERGE f=$f row=${rows(r)} spark=${want(r)} store=$got")
      got == want(r)
    } finally batch.close()
  }

  property("vector evaluator == Spark WHERE on every claimable filter and operand") =
    forAll(Gen.nonEmptyListOf(genRow), genFilter(2))(parity)

  /** Large-list In rides the type-specialized set probe (round 18); it
    * must keep Spark's rows there too — including the IEEE specials
    * pool (NaN/±0.0 membership through canonical bits) and
    * surrogate-pair strings through the UTF8String hash set.
    */
  property("In over a 1000-element literal list: set probe == Spark WHERE") =
    forAll(Gen.nonEmptyListOf(genRow),
      genCol.flatMap(c => Gen.listOfN(1000, lit(c)).map(vs => In(c, vs.toArray): Filter)))(parity)

  /** Every leaf the scan claims compiles: no claimed shape or literal
    * class sends a bucket to another path.
    */
  property("claimable type-matched leaves always compile") =
    forAll(genLeaf) { f =>
      !VectorFilterEval.supports(schema, f) ||
        scala.util.Try(VectorFilterEval.compile(schema, Array(f))).isSuccess
    }

  /** The compiled conjunction (In literal sets converted once into a
    * probe) must agree with the same filters compiled one by one with
    * every In spelled as an OR of equalities, which takes the
    * per-literal comparison path and never the probe — on every
    * composed shape, including large In lists over every column type.
    */
  private val genBigIn: Gen[Filter] =
    genCol.flatMap(c => Gen.listOfN(300, lit(c)).map(vs => In(c, vs.toArray): Filter))

  private def perLiteral(f: Filter): Filter = f match {
    case In(c, vs) if vs.nonEmpty => vs.map(v => EqualTo(c, v): Filter).reduceLeft(Or(_, _))
    case And(l, r) => And(perLiteral(l), perLiteral(r))
    case Or(l, r) => Or(perLiteral(l), perLiteral(r))
    case Not(x) => Not(perLiteral(x))
    case other => other
  }

  property("In probe == OR of equalities on composed shapes and large In lists") =
    forAll(Gen.nonEmptyListOf(genRow),
      Gen.listOfN(2, Gen.frequency(3 -> genFilter(2), 2 -> genBigIn))) { (rows, filters) =>
      val fs = filters.toArray
      val batch = toBatch(rows)
      val compiled = VectorFilterEval.compile(schema, fs)
      val oneByOne = fs.map(f => VectorFilterEval.compile(schema, Array(perLiteral(f))))
      try rows.indices.forall { r =>
        val want = oneByOne.forall(_(batch, r))
        val got = compiled(batch, r)
        if (want != got) println(s"DIVERGE fs=${fs.toSeq} row=${rows(r)} want=$want got=$got")
        want == got
      } finally batch.close()
    }
}
