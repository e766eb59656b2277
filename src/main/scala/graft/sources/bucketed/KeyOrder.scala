package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** The store's one value order. Every part of the store that sorts,
  * slices, prunes, routes or merges by value — the cluster sort and
  * merges, [[ClusterRange]] slicing, [[BucketSkip]] zone maps, range
  * routing, the pushed filters ([[VectorFilterEval]], through
  * [[cell]]), the pushed MIN/MAX and TopN, and the vectorized scan's
  * sorted merge — takes its comparator from here, resolved once per
  * column type, so all of them agree by construction. The order is
  * Spark's own (`PhysicalDataType(dt).ordering` over Catalyst values,
  * pinned by the `KeyOrder.of equals Spark's ordering` property):
  *
  *  - NULL is outside [[of]]: the row orders ([[rows]]) place it first
  *    or last per column, and a row shorter than a column index (a row
  *    stored before an ADD COLUMN) reads that column as NULL.
  *  - Floating point: NaN is the largest value and equals itself;
  *    −0.0 equals 0.0; −Inf < finite < +Inf ([[compareDoubles]]).
  *  - Strings compare by code point, which is UTF-8 byte order, the
  *    order of Spark's `UTF8String` — not Java's UTF-16 code-unit
  *    order, which disagrees once a supplementary character meets one
  *    in U+E000–U+FFFF.
  *  - Decimals compare by value: scale does not matter (1.0 == 1.00).
  *  - Dates compare by epoch day and timestamps by epoch micros, so
  *    the `java.sql` and `java.time` externals of one instant (a
  *    session flipping `datetime.java8API`) compare equal.
  *  - A literal of another numeric class than the column's (an Int
  *    literal on a LONG column, a decimal on an integral one) compares
  *    exactly: integral widths by their long value, finite mixes by
  *    decimal value, a non-finite float by IEEE order.
  *
  * Types outside this list (booleans, binary, nested types) have no
  * order here: comparing two of their values throws.
  */
object KeyOrder {

  /** The order of the non-null external values of a `dt` column, and of
    * the literals compared with them.
    */
  def of(dt: DataType): Ordering[Any] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Integral
    case DoubleType | FloatType => Floating
    case _: DecimalType => Decimals
    case _: StringType => Strings
    case DateType => Dates
    case TimestampType => Timestamps
    case TimestampNTZType => LocalDateTimes
    case _ => Unordered
  }

  /** Whether [[of]]`(dt)` orders the literal `v` against a `dt` column's
    * values: any number (its Java boxed class or `java.math.BigDecimal`)
    * on a numeric column, a `String` on a string column, and on a
    * date/time column that type's `java.sql` or `java.time` external
    * (TIMESTAMP_NTZ literals are always `LocalDateTime`; `Instant` and
    * `LocalDate` appear when the session runs with
    * `datetime.java8API.enabled`). Every other pairing — and every
    * literal on a boolean, binary or nested column — would throw.
    */
  def compares(dt: DataType, v: Any): Boolean = (dt, v) match {
    case (_: NumericType, _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float | _: java.math.BigDecimal) =>
      true
    case (_: StringType, _: String) => true
    case (DateType, _: java.sql.Date | _: java.time.LocalDate) => true
    case (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) => true
    case (TimestampNTZType, _: java.time.LocalDateTime) => true
    case _ => false
  }

  // Each ordering tests its column's own external class first; only a
  // mixed pair reaches the slower cross-class path. isInstanceOf tests,
  // never a `(a, b) match`, which would allocate a tuple per compare.

  private val Integral: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[java.lang.Long] && b.isInstanceOf[java.lang.Long])
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    else if (a.isInstanceOf[java.lang.Integer] && b.isInstanceOf[java.lang.Integer])
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    else numbers(a, b)

  private val Floating: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[java.lang.Double] && b.isInstanceOf[java.lang.Double])
      compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
    else numbers(a, b)

  private val Decimals: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[java.math.BigDecimal] && b.isInstanceOf[java.math.BigDecimal])
      a.asInstanceOf[java.math.BigDecimal].compareTo(b.asInstanceOf[java.math.BigDecimal])
    else numbers(a, b)

  private val Strings: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[String] && b.isInstanceOf[String])
      compareStrings(a.asInstanceOf[String], b.asInstanceOf[String])
    else incomparable(a, b)

  private val Dates: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[java.sql.Date] && b.isInstanceOf[java.sql.Date])
      a.asInstanceOf[java.sql.Date].compareTo(b.asInstanceOf[java.sql.Date])
    else if (a.isInstanceOf[java.time.LocalDate] && b.isInstanceOf[java.time.LocalDate])
      a.asInstanceOf[java.time.LocalDate].compareTo(b.asInstanceOf[java.time.LocalDate])
    else Integer.compare(epochDay(a, b), epochDay(b, a))

  private val Timestamps: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[java.sql.Timestamp] && b.isInstanceOf[java.sql.Timestamp])
      a.asInstanceOf[java.sql.Timestamp].compareTo(b.asInstanceOf[java.sql.Timestamp])
    else if (a.isInstanceOf[java.time.Instant] && b.isInstanceOf[java.time.Instant])
      a.asInstanceOf[java.time.Instant].compareTo(b.asInstanceOf[java.time.Instant])
    else java.lang.Long.compare(epochMicros(a, b), epochMicros(b, a))

  private val LocalDateTimes: Ordering[Any] = (a, b) =>
    if (a.isInstanceOf[java.time.LocalDateTime] && b.isInstanceOf[java.time.LocalDateTime])
      a.asInstanceOf[java.time.LocalDateTime].compareTo(b.asInstanceOf[java.time.LocalDateTime])
    else incomparable(a, b)

  private val Unordered: Ordering[Any] = (a, b) => incomparable(a, b)

  private def incomparable(a: Any, b: Any): Nothing = throw new IllegalStateException(
    s"incomparable filter operands: ${classOf(a)} vs ${classOf(b)}")

  private def classOf(v: Any): Any = if (v == null) null else v.getClass

  private def epochDay(v: Any, other: Any): Int = v match {
    case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
    case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
    case _ => incomparable(v, other)
  }

  private def epochMicros(v: Any, other: Any): Long = v match {
    case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
    case _ => incomparable(v, other)
  }

  /** Two numbers of any classes, exactly: integral widths by their long
    * value, two floats of one width by [[compareDoubles]], a non-finite
    * float against anything by IEEE order (BigDecimal has no NaN or
    * infinity), and every other pair by decimal value — never through a
    * double, which would merge longs past 2^53.
    */
  private def numbers(a: Any, b: Any): Int = a match {
    case x: Number => b match {
      case y: Number =>
        if (integral(x) && integral(y)) java.lang.Long.compare(x.longValue, y.longValue)
        else if ((x.isInstanceOf[java.lang.Double] || x.isInstanceOf[java.lang.Float]) &&
            (x.getClass eq y.getClass)) compareDoubles(x.doubleValue, y.doubleValue)
        else if (nonFinite(x) || nonFinite(y))
          java.lang.Double.compare(x.doubleValue, y.doubleValue)
        else exact(x).compareTo(exact(y))
      case _ => incomparable(a, b)
    }
    case _ => incomparable(a, b)
  }

  private def integral(n: Number): Boolean =
    n.isInstanceOf[java.lang.Long] || n.isInstanceOf[java.lang.Integer] ||
      n.isInstanceOf[java.lang.Short] || n.isInstanceOf[java.lang.Byte]

  private def nonFinite(n: Number): Boolean = n match {
    case d: java.lang.Double => d.isNaN || d.isInfinite
    case f: java.lang.Float => f.isNaN || f.isInfinite
    case _ => false
  }

  /** A finite number's decimal value: a float by its shortest decimal
    * form, the one `toString` prints.
    */
  private def exact(n: Number): java.math.BigDecimal = n match {
    case d: java.math.BigDecimal => d
    case _ => new java.math.BigDecimal(n.toString)
  }

  /** IEEE compare with SQL equality: −0.0 == 0.0 (primitive `==`), and
    * `Double.compare` — reached only when an operand is NaN — makes NaN
    * the largest value and equal to itself.
    */
  def compareDoubles(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Code-point (UTF-8 byte) order of two strings, allocation-free. */
  def compareStrings(x: String, y: String): Int = {
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx)
      j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** A compare of two rows' non-null cells of one column. */
  trait Cells { def compare(a: Row, b: Row): Int }

  /** [[of]]`(dt)` on the non-null cells `i` of two rows. The primitive
    * types read through `Row`'s typed getters, which a [[RowView]]
    * answers from its chunk's arrays with no box; every other type
    * compares the values `get` returns.
    */
  def cells(dt: DataType, i: Int): Cells = dt match {
    case LongType => (a, b) => java.lang.Long.compare(a.getLong(i), b.getLong(i))
    case IntegerType => (a, b) => Integer.compare(a.getInt(i), b.getInt(i))
    case ShortType => (a, b) => Integer.compare(a.getShort(i), b.getShort(i))
    case ByteType => (a, b) => Integer.compare(a.getByte(i), b.getByte(i))
    case DoubleType => (a, b) => compareDoubles(a.getDouble(i), b.getDouble(i))
    case FloatType => (a, b) => compareDoubles(a.getFloat(i).toDouble, b.getFloat(i).toDouble)
    case _ =>
      val ord = of(dt)
      (a, b) => ord.compare(a.get(i), b.get(i))
  }

  /** The cluster order of rows over the columns at `idxs`:
    * lexicographic, ascending, nulls first.
    */
  def rows(schema: StructType, idxs: Array[Int]): Ordering[Row] =
    rows(schema, idxs, new Array[Boolean](idxs.length), Array.fill(idxs.length)(true))

  /** Lexicographic order of rows over the columns at `idxs`, each
    * column descending where `desc` says so and with its NULLs first
    * or last as `nullsFirst` says (independent of the direction, as in
    * SQL). A row shorter than an index reads that column as NULL.
    * Non-null cells compare through [[cells]].
    */
  def rows(schema: StructType, idxs: Array[Int], desc: Array[Boolean],
      nullsFirst: Array[Boolean]): Ordering[Row] = {
    val cs = idxs.map(i => cells(schema(i).dataType, i))
    new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        var k = 0
        while (k < idxs.length) {
          val i = idxs(k)
          val xNull = i >= a.length || a.isNullAt(i)
          val yNull = i >= b.length || b.isNullAt(i)
          val c =
            if (xNull) { if (yNull) 0 else if (nullsFirst(k)) -1 else 1 }
            else if (yNull) { if (nullsFirst(k)) 1 else -1 }
            else if (desc(k)) -cs(k).compare(a, b)
            else cs(k).compare(a, b)
          if (c != 0) return c
          k += 1
        }
        0
      }
    }
  }

  /** The vector form of a non-null external value or literal for a `dt`
    * column — the representation a `ColumnarBatch` holds it in: epoch
    * days for dates, epoch micros for timestamps (both external
    * flavors), `UTF8String` for strings, the byte array for binaries,
    * the `java.math.BigDecimal` for decimals (whose compact vectors then
    * take the unscaled long at the column's scale, [[unscaledExact]]),
    * and the value itself for the other numerics. Null when `v` is not
    * of the class a `dt` value has, so no vector compare of the same
    * width exists.
    */
  def internal(dt: DataType, v: Any): Any = dt match {
    case IntegerType => if (v.isInstanceOf[java.lang.Integer]) v else null
    case LongType => if (v.isInstanceOf[java.lang.Long]) v else null
    case ShortType => if (v.isInstanceOf[java.lang.Short]) v else null
    case ByteType => if (v.isInstanceOf[java.lang.Byte]) v else null
    case DoubleType => if (v.isInstanceOf[java.lang.Double]) v else null
    case FloatType => if (v.isInstanceOf[java.lang.Float]) v else null
    case StringType => v match {
      case s: String => UTF8String.fromString(s)
      case _ => null
    }
    case BinaryType => v match {
      case b: Array[Byte] => b
      case _ => null
    }
    case DateType => v match {
      case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
      case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
      case _ => null
    }
    case TimestampType => v match {
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
      case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
      case _ => null
    }
    case TimestampNTZType => v match {
      case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
      case _ => null
    }
    case _: DecimalType => v match {
      case x: java.math.BigDecimal => x
      case x: scala.math.BigDecimal => x.bigDecimal
      case _ => null
    }
    case _ => null
  }

  /** A decimal's unscaled long at `scale`, or None when the value is
    * not exactly representable there (extra fractional digits, or an
    * unscaled value past Long) — such a value equals no value of a
    * compact decimal column.
    */
  def unscaledExact(x: java.math.BigDecimal, scale: Int): Option[Long] =
    try Some(x.setScale(scale).unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None }

  /** A compiled read of batch row `r`, as an Int: a sign, or a
    * pushed filter's three-valued truth. A trait and not a `Function2`,
    * so a call boxes neither the row index nor the result; so are
    * [[BatchLong]] and [[BatchTest]].
    */
  trait BatchInt { def apply(b: ColumnarBatch, r: Int): Int }
  trait BatchLong { def apply(b: ColumnarBatch, r: Int): Long }
  trait BatchTest { def apply(b: ColumnarBatch, r: Int): Boolean }

  /** Allocation-free unscaled-long read of a COMPACT decimal vector:
    * the precision dispatch `WritableColumnVector.getDecimal` performs
    * internally (int storage ≤ 9 digits, long ≤ 18) without the per-row
    * `Decimal` wrapper. Every batch the store compares comes from the
    * vectorized parquet reader, the merge's output vectors or a
    * [[RowColumnVector]], which all answer compact decimals that way.
    */
  def unscaledGetter(i: Int, dt: DecimalType): BatchLong =
    if (dt.precision <= Decimal.MAX_INT_DIGITS) (b, r) => b.column(i).getInt(r).toLong
    else (b, r) => b.column(i).getLong(r)

  /** The sign of (non-null cell `i` of a batch row) compared with `v`,
    * in this order, as a closure over primitive reads: `v` is converted
    * once to the [[internal]] form. A compact decimal compares unscaled
    * longs — `v` floored to the column's scale, an inexact `v` sitting
    * strictly above its floor. A numeric literal of another class than
    * the column's (an Int on a LONG column, a decimal on a DOUBLE one)
    * has no internal form: the cell is boxed and compared exactly
    * through [[of]]. None when [[compares]] is false for the pair.
    */
  def cell(dt: DataType, i: Int, v: Any): Option[BatchInt] = {
    val n = internal(dt, v)
    if (n == null) boxedCell(dt, i, v)
    else dt match {
      case IntegerType =>
        val l = n.asInstanceOf[Int]; Some((b, r) => Integer.compare(b.column(i).getInt(r), l))
      case LongType =>
        val l = n.asInstanceOf[Long]; Some((b, r) => java.lang.Long.compare(b.column(i).getLong(r), l))
      case ShortType =>
        val l = n.asInstanceOf[Short]; Some((b, r) => java.lang.Short.compare(b.column(i).getShort(r), l))
      case ByteType =>
        val l = n.asInstanceOf[Byte]; Some((b, r) => java.lang.Byte.compare(b.column(i).getByte(r), l))
      case DoubleType =>
        val l = n.asInstanceOf[Double]; Some((b, r) => compareDoubles(b.column(i).getDouble(r), l))
      case FloatType =>
        val l = n.asInstanceOf[Float].toDouble
        Some((b, r) => compareDoubles(b.column(i).getFloat(r).toDouble, l))
      case StringType =>
        // binaryCompare: Spark 4's compareTo reads an environment
        // variable on every call before it delegates here
        val l = n.asInstanceOf[UTF8String]
        Some((b, r) => b.column(i).getUTF8String(r).binaryCompare(l))
      case DateType =>
        val l = n.asInstanceOf[Int]; Some((b, r) => Integer.compare(b.column(i).getInt(r), l))
      case TimestampType | TimestampNTZType =>
        val l = n.asInstanceOf[Long]; Some((b, r) => java.lang.Long.compare(b.column(i).getLong(r), l))
      case dt: DecimalType =>
        val x = n.asInstanceOf[java.math.BigDecimal]
        val fast: Option[BatchInt] =
          if (dt.precision > Decimal.MAX_LONG_DIGITS) None
          else try {
            val floored = x.setScale(dt.scale, java.math.RoundingMode.FLOOR)
            val f = floored.unscaledValue().longValueExact()
            val exact = x.compareTo(floored) == 0
            val get = unscaledGetter(i, dt)
            Some { (b, r) =>
              val c = java.lang.Long.compare(get(b, r), f)
              if (c == 0 && !exact) -1 else c
            }
          } catch { case _: ArithmeticException => None } // past Long: compare BigDecimals
        fast.orElse(Some((b, r) =>
          b.column(i).getDecimal(r, dt.precision, dt.scale).toJavaBigDecimal.compareTo(x)))
      case _ => None
    }
  }

  private def boxedCell(dt: DataType, i: Int, v: Any): Option[BatchInt] = {
    val get: (ColumnarBatch, Int) => Any = dt match {
      case _ if !compares(dt, v) => return None
      case LongType => (b, r) => b.column(i).getLong(r)
      case IntegerType => (b, r) => b.column(i).getInt(r)
      case ShortType => (b, r) => b.column(i).getShort(r)
      case ByteType => (b, r) => b.column(i).getByte(r)
      case DoubleType => (b, r) => b.column(i).getDouble(r)
      case FloatType => (b, r) => b.column(i).getFloat(r)
      case d: DecimalType => (b, r) => b.column(i).getDecimal(r, d.precision, d.scale).toJavaBigDecimal
      case _ => return None
    }
    val ord = of(dt)
    Some((b, r) => ord.compare(get(b, r), v))
  }

  /** The vector side of the cluster order: a batch row's cells at
    * `idxs` against one external key row of the same layout, nulls
    * first per column, non-null pairs through [[cell]] — the outcomes
    * [[rows]] gives the same values as externals. [[set]] compiles one
    * key; [[compare]] then reads the batch with no allocation.
    */
  final class BatchKey(schema: StructType, idxs: Array[Int]) {
    private val cells = new Array[BatchInt](idxs.length)

    def set(key: Row): Unit = {
      var k = 0
      while (k < idxs.length) {
        val v = key.get(idxs(k))
        cells(k) =
          if (v == null) null
          else cell(schema(idxs(k)).dataType, idxs(k), v).getOrElse(
            throw new IllegalStateException(
              s"no vector compare for ${v.getClass} in column ${schema(idxs(k)).name}"))
        k += 1
      }
    }

    def compare(b: ColumnarBatch, r: Int): Int = {
      var k = 0
      while (k < idxs.length) {
        val xNull = b.column(idxs(k)).isNullAt(r)
        val c =
          if (cells(k) == null) { if (xNull) 0 else 1 }
          else if (xNull) -1
          else cells(k)(b, r)
        if (c != 0) return c
        k += 1
      }
      0
    }
  }

  /** Does [[cell]] compare this type on a batch? */
  def vectorOrderable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | DoubleType | FloatType |
         DateType | TimestampType | TimestampNTZType | StringType | _: DecimalType => true
    case _ => false
  }
}
