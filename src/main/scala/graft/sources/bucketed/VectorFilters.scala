package graft.sources.bucketed

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Pushed-filter evaluation DIRECTLY over `ColumnarBatch` vectors —
  * what lets the cold vectorized scan ([[BucketedColumnarPartitionReader]])
  * admit filtered scans instead of bailing to the row-materializing
  * path. The scan CLAIMS its pushed filters (so aggregate/limit/top-N
  * pushdown keep composing above it — returning them as residuals
  * would put a Catalyst `Filter` between `Aggregate` and the relation
  * and kill aggregate pushdown for every filtered aggregate), which
  * means it must enforce them exactly; this evaluator enforces them at
  * vector speed: literals are pre-converted ONCE to the vector's
  * internal representation (UTF8String bytes, date days, timestamp
  * micros) and each conjunct compiles to a primitive comparison
  * closure — no per-row boxing, no `Row` materialization, and only the
  * filter's referenced columns are ever decoded.
  *
  * Three-valued SQL semantics, byte-for-byte consistent with the row
  * path's compiled predicate ([[FilterEval.compile]], the same
  * true/false/unknown encoding): a NULL operand yields UNKNOWN and a
  * row is kept only when every conjunct is definitely true. String
  * order is UTF8String's byte order = code-point order — the same
  * order [[FilterEval.cmp]] implements on external strings. A filter
  * shape or literal/column type pairing this compiler can't express
  * returns None and the scan falls back to the row path — eligibility
  * is decided at open, never mid-stream.
  */
private[bucketed] object VectorFilterEval {

  /** 1 = true, 0 = false, -1 = unknown (NULL operand). */
  type Pred = (ColumnarBatch, Int) => Int

  /** Compile the conjunction, or None if any conjunct is inexpressible. */
  def compile(schema: StructType, filters: Array[Filter]): Option[(ColumnarBatch, Int) => Boolean] = {
    val compiled = filters.map(compileOne(schema, _))
    if (compiled.exists(_.isEmpty)) None
    else {
      val ps: Array[Pred] = compiled.map(_.get)
      Some { (b, r) =>
        var i = 0
        var ok = true
        while (ok && i < ps.length) { ok = ps(i)(b, r) == 1; i += 1 }
        ok
      }
    }
  }

  private def compileOne(schema: StructType, f: Filter): Option[Pred] = f match {
    case EqualTo(c, v) => nullAwareCmp(schema, c, v)(_ == 0)
    case EqualNullSafe(c, v) =>
      // <=> is never unknown: NULL <=> literal is definitively false
      // (a null literal is rewritten to IsNull before pushdown)
      cmpFn(schema, c, v).map { cf =>
        val i = schema.fieldIndex(c)
        (b, r) => if (b.column(i).isNullAt(r)) 0 else if (cf(b, r) == 0) 1 else 0
      }
    case GreaterThan(c, v) => nullAwareCmp(schema, c, v)(_ > 0)
    case GreaterThanOrEqual(c, v) => nullAwareCmp(schema, c, v)(_ >= 0)
    case LessThan(c, v) => nullAwareCmp(schema, c, v)(_ < 0)
    case LessThanOrEqual(c, v) => nullAwareCmp(schema, c, v)(_ <= 0)
    case IsNull(c) => fieldIdx(schema, c).map(i =>
      (b, r) => if (b.column(i).isNullAt(r)) 1 else 0)
    case IsNotNull(c) => fieldIdx(schema, c).map(i =>
      (b, r) => if (b.column(i).isNullAt(r)) 0 else 1)
    case In(c, vs) =>
      fieldIdx(schema, c).flatMap { i =>
        // fast path (round 18): pre-convert the literal list ONCE into
        // a type-specialized sorted array / hash set and probe in
        // O(log n)/O(1) — the per-literal closure loop was O(|list|)
        // PER ROW, linear-in-list for the common `k IN (<hundreds of
        // ids>)` pushdown
        val fast: Option[Pred] = inProbe(schema, i, vs).map { probe =>
          (b, r) => if (b.column(i).isNullAt(r)) -1 else if (probe(b, r)) 1 else 0
        }
        fast.orElse {
          // fallback: per-literal compare closures (mixed-width
          // numeric or exotic literals keep cmpFn's exact semantics)
          val cfs = vs.map(cmpFn(schema, c, _))
          if (cfs.exists(_.isEmpty)) None
          else {
            val arr = cfs.map(_.get)
            Some { (b, r) =>
              if (b.column(i).isNullAt(r)) -1
              else {
                var k = 0
                var hit = false
                while (!hit && k < arr.length) { hit = arr(k)(b, r) == 0; k += 1 }
                if (hit) 1 else 0
              }
            }
          }
        }
      }
    case StringStartsWith(c, v) => stringPred(schema, c, UTF8String.fromString(v))(_.startsWith(_))
    case StringEndsWith(c, v) => stringPred(schema, c, UTF8String.fromString(v))(_.endsWith(_))
    case StringContains(c, v) => stringPred(schema, c, UTF8String.fromString(v))(_.contains(_))
    case AlwaysTrue() => Some((_, _) => 1)
    case AlwaysFalse() => Some((_, _) => 0)
    case And(l, r) =>
      for (lp <- compileOne(schema, l); rp <- compileOne(schema, r)) yield { (b, row) =>
        val x = lp(b, row)
        if (x == 0) 0
        else {
          val y = rp(b, row)
          if (y == 0) 0 else if (x == 1 && y == 1) 1 else -1
        }
      }
    case Or(l, r) =>
      for (lp <- compileOne(schema, l); rp <- compileOne(schema, r)) yield { (b, row) =>
        val x = lp(b, row)
        if (x == 1) 1
        else {
          val y = rp(b, row)
          if (y == 1) 1 else if (x == 0 && y == 0) 0 else -1
        }
      }
    case Not(x) => compileOne(schema, x).map(p => (b, r) => p(b, r) match {
      case 1 => 0
      case 0 => 1
      case other => other
    })
    case _ => None
  }

  private def fieldIdx(schema: StructType, c: String): Option[Int] =
    if (schema.fieldNames.contains(c)) Some(schema.fieldIndex(c)) else None

  /** Type-specialized membership probe over a PRE-CONVERTED literal
    * set for `In`: primitive-backed types probe a sorted primitive
    * array (binary search, zero boxing), strings probe a UTF8String
    * hash set. None when any literal fails the exact conversion the
    * scalar [[cmpFn]] would demand — the caller's per-literal closure
    * fallback (and ultimately the row path) keeps the semantics.
    * Floating point probes by [[canonicalBits]] so membership matches
    * [[cmpDouble]] equality exactly: -0.0 == 0.0 and NaN == NaN.
    */
  private def inProbe(schema: StructType, i: Int, vs: Array[Any])
      : Option[(ColumnarBatch, Int) => Boolean] = {
    import java.util.Arrays
    def intSet(lit: PartialFunction[Any, Int], get: (ColumnarBatch, Int) => Int)
        : Option[(ColumnarBatch, Int) => Boolean] = {
      val conv = vs.map(lit.lift)
      if (conv.contains(None)) None
      else {
        val arr: Array[Int] = conv.map(_.get).distinct.sorted
        Some((b, r) => Arrays.binarySearch(arr, get(b, r)) >= 0)
      }
    }
    def longSet(lit: PartialFunction[Any, Long], get: (ColumnarBatch, Int) => Long)
        : Option[(ColumnarBatch, Int) => Boolean] = {
      val conv = vs.map(lit.lift)
      if (conv.contains(None)) None
      else {
        val arr: Array[Long] = conv.map(_.get).distinct.sorted
        Some((b, r) => Arrays.binarySearch(arr, get(b, r)) >= 0)
      }
    }
    schema(i).dataType match {
      case IntegerType =>
        intSet({ case x: java.lang.Integer => x.intValue }, (b, r) => b.column(i).getInt(r))
      case ShortType =>
        intSet({ case x: java.lang.Short => x.intValue }, (b, r) => b.column(i).getShort(r).toInt)
      case ByteType =>
        intSet({ case x: java.lang.Byte => x.intValue }, (b, r) => b.column(i).getByte(r).toInt)
      case DateType => intSet({
        case d: java.sql.Date => DateTimeUtils.fromJavaDate(d)
        case d: java.time.LocalDate => DateTimeUtils.localDateToDays(d)
      }, (b, r) => b.column(i).getInt(r))
      case LongType =>
        longSet({ case x: java.lang.Long => x.longValue }, (b, r) => b.column(i).getLong(r))
      case TimestampType => longSet({
        case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
        case t: java.time.Instant => DateTimeUtils.instantToMicros(t)
      }, (b, r) => b.column(i).getLong(r))
      case TimestampNTZType => longSet({
        case t: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(t)
      }, (b, r) => b.column(i).getLong(r))
      case DoubleType => longSet({
        case x: java.lang.Double => canonicalBits(x.doubleValue)
      }, (b, r) => canonicalBits(b.column(i).getDouble(r)))
      case FloatType => longSet({
        case x: java.lang.Float => canonicalBits(x.floatValue.toDouble)
      }, (b, r) => canonicalBits(b.column(i).getFloat(r).toDouble))
      case StringType =>
        val set = new java.util.HashSet[UTF8String](vs.length * 2)
        var ok = true
        vs.foreach {
          case s: String => set.add(UTF8String.fromString(s)); ()
          case _ => ok = false
        }
        if (!ok) None
        else Some((b, r) => set.contains(b.column(i).getUTF8String(r)))
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        // probe the UNSCALED long at the column's fixed scale (round
        // 19 — `dec IN (...)` was the one In shape left at O(|list|)
        // BigDecimal compares per row). A literal that does not
        // rescale EXACTLY can equal no column value: DROPPED from the
        // probe set (semantically exact), never a reason to bail.
        // Non-BigDecimal literals bail to the closure fallback.
        val conv: Array[Option[Long]] = vs.map {
          case x: java.math.BigDecimal => unscaledExact(x, dt.scale)
          case x: scala.math.BigDecimal => unscaledExact(x.bigDecimal, dt.scale)
          case _ => null
        }
        if (conv.contains(null)) None
        else {
          val arr: Array[Long] = conv.flatten.distinct.sorted
          val get = unscaledGetter(i, dt)
          Some((b, r) => Arrays.binarySearch(arr, get(b, r)) >= 0)
        }
      case dt: DecimalType =>
        // FLBA-backed precisions (> 18, round 20): no unscaled-long
        // space to probe in, but cmp-equality is still exact set
        // membership over VALUE-canonical (stripTrailingZeros'd)
        // BigDecimals — `big_money IN (...)` stays vectorized instead
        // of demoting the scan. Row-group pruning stays off for FLBA
        // (parquet's FLBA comparator pitfalls); this is membership
        // only.
        val set = new java.util.HashSet[java.math.BigDecimal](vs.length * 2)
        var okD = true
        vs.foreach {
          case x: java.math.BigDecimal => set.add(x.stripTrailingZeros()); ()
          case x: scala.math.BigDecimal => set.add(x.bigDecimal.stripTrailingZeros()); ()
          case _ => okD = false
        }
        if (!okD) None
        else Some((b, r) => set.contains(
          b.column(i).getDecimal(r, dt.precision, dt.scale)
            .toJavaBigDecimal.stripTrailingZeros()))
      case _ => None
    }
  }

  /** Literal → unscaled long at `scale`, or None when the value is not
    * exactly representable there (extra fractional digits, or an
    * unscaled value past Long) — such a literal can never equal a
    * compact decimal column value.
    */
  private[bucketed] def unscaledExact(x: java.math.BigDecimal, scale: Int): Option[Long] =
    try Some(x.setScale(scale).unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None }

  /** Allocation-free unscaled-long read for a COMPACT decimal vector:
    * the exact precision dispatch `WritableColumnVector.getDecimal`
    * performs internally (int storage ≤ 9 digits, long ≤ 18) without
    * the per-row `Decimal` wrapper (~1.5× on the probe, InProbeBench).
    * Every batch this evaluator sees comes from the vectorized parquet
    * reader or the merge fillers — both store compact decimals that
    * way.
    */
  private def unscaledGetter(i: Int, dt: DecimalType): (ColumnarBatch, Int) => Long =
    if (dt.precision <= Decimal.MAX_INT_DIGITS) (b, r) => b.column(i).getInt(r).toLong
    else (b, r) => b.column(i).getLong(r)

  /** doubleToLongBits with ±0.0 folded to one key, so bit-equality of
    * the keys matches [[cmpDouble]]'s equality outcomes exactly:
    * -0.0 == 0.0 (folded) and NaN == NaN (doubleToLongBits already
    * canonicalizes every NaN payload to one pattern).
    */
  private[bucketed] def canonicalBits(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  private def nullAwareCmp(schema: StructType, c: String, v: Any)(
      sign: Int => Boolean): Option[Pred] =
    cmpFn(schema, c, v).map { cf =>
      val i = schema.fieldIndex(c)
      (b, r) => if (b.column(i).isNullAt(r)) -1 else if (sign(cf(b, r))) 1 else 0
    }

  private def stringPred(schema: StructType, c: String, lit: UTF8String)(
      test: (UTF8String, UTF8String) => Boolean): Option[Pred] =
    fieldIdx(schema, c).filter(i => schema(i).dataType == StringType).map { i =>
      (b, r) =>
        if (b.column(i).isNullAt(r)) -1
        else if (test(b.column(i).getUTF8String(r), lit)) 1 else 0
    }

  /** Sign-of-comparison closure for a non-null vector value against a
    * pre-converted literal, or None when the (column type, literal
    * class) pairing has no exact primitive comparison — mixed-width
    * numeric literals keep the row path's BigDecimal semantics by
    * falling back entirely.
    */
  private def cmpFn(schema: StructType, c: String, v: Any): Option[(ColumnarBatch, Int) => Int] = {
    if (v == null || !schema.fieldNames.contains(c)) return None
    val i = schema.fieldIndex(c)
    schema(i).dataType match {
      case IntegerType => v match {
        case x: java.lang.Integer =>
          val l = x.intValue; Some((b, r) => Integer.compare(b.column(i).getInt(r), l))
        case _ => None
      }
      case LongType => v match {
        case x: java.lang.Long =>
          val l = x.longValue; Some((b, r) => java.lang.Long.compare(b.column(i).getLong(r), l))
        case _ => None
      }
      case ShortType => v match {
        case x: java.lang.Short =>
          val l = x.shortValue; Some((b, r) => java.lang.Short.compare(b.column(i).getShort(r), l))
        case _ => None
      }
      case ByteType => v match {
        case x: java.lang.Byte =>
          val l = x.byteValue; Some((b, r) => java.lang.Byte.compare(b.column(i).getByte(r), l))
        case _ => None
      }
      case DoubleType => v match {
        case x: java.lang.Double =>
          val l = x.doubleValue; Some((b, r) => cmpDouble(b.column(i).getDouble(r), l))
        case _ => None
      }
      case FloatType => v match {
        case x: java.lang.Float =>
          val l = x.floatValue; Some((b, r) => cmpDouble(b.column(i).getFloat(r).toDouble, l.toDouble))
        case _ => None
      }
      case StringType => v match {
        case s: String =>
          val lit = UTF8String.fromString(s)
          Some((b, r) => b.column(i).getUTF8String(r).compareTo(lit))
        case _ => None
      }
      case DateType =>
        val days: Option[Int] = v match {
          case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
          case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d))
          case _ => None
        }
        days.map(d => (b, r) => Integer.compare(b.column(i).getInt(r), d))
      case TimestampType =>
        val micros: Option[Long] = v match {
          case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
          case t: java.time.Instant => Some(DateTimeUtils.instantToMicros(t))
          case _ => None
        }
        micros.map(m => (b, r) => java.lang.Long.compare(b.column(i).getLong(r), m))
      case TimestampNTZType => v match {
        case t: java.time.LocalDateTime =>
          val m = DateTimeUtils.localDateTimeToMicros(t)
          Some((b, r) => java.lang.Long.compare(b.column(i).getLong(r), m))
        case _ => None
      }
      case dt: DecimalType => v match {
        case x: java.math.BigDecimal =>
          // compact precisions compare on the UNSCALED long (round 19):
          // floor the literal to the column's scale once; an INEXACT
          // literal sits strictly between floor and floor+1, so a
          // column value equal to the floor is strictly BELOW it —
          // break the tie to -1. No per-row BigDecimal.
          val fast: Option[(ColumnarBatch, Int) => Int] =
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
            } catch { case _: ArithmeticException => None } // literal beyond Long: exact path
          fast.orElse(Some((b, r) =>
            b.column(i).getDecimal(r, dt.precision, dt.scale).toJavaBigDecimal.compareTo(x)))
        case _ => None
      }
      case _ => None
    }
  }

  /** IEEE-with-SQL-equality compare, same outcomes as
    * [[FilterEval.cmp]]'s finite BigDecimal path plus its non-finite
    * Double.compare path: -0.0 == 0.0 (primitive ==), NaN largest
    * (Double.compare fallthrough — reached only when an operand is NaN).
    */
  private[bucketed] def cmpDouble(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1 else if (x == y) 0 else java.lang.Double.compare(x, y)
}

/** Conservative parquet row-group/page pruning predicates from pushed
  * filters, set on the vectorized cold scan's read options so parquet
  * drops row groups (and, via column indexes, pages) whose statistics
  * prove no row can match — the file-internal analog of the manifest's
  * [[BucketSkip]] zone maps, which already pruned whole buckets at
  * plan time. Pruning-only by contract: the batch-level
  * [[VectorFilterEval]] enforces the filters exactly, so dropping an
  * inexpressible conjunct (NOT, strings ops, mixed-type literals) only
  * keeps more row groups, never changes an answer. Types map to the
  * store's physical parquet encodings ([[FileStore.writeBlock]]:
  * TIMESTAMP_MICROS as INT64, dates as INT32 days, strings as UTF-8
  * binary); a column named with a dot is skipped (parquet would parse
  * it as a nested path).
  */
private[bucketed] object ParquetPruning {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary

  def predicate(schema: StructType, filters: Array[Filter]): Option[FilterPredicate] =
    filters.flatMap(one(schema, _)).reduceOption(FilterApi.and)

  private def one(schema: StructType, f: Filter): Option[FilterPredicate] = f match {
    case EqualTo(c, v) => ops(schema, c).flatMap(_.eq(v))
    case GreaterThan(c, v) => ops(schema, c).flatMap(_.gt(v))
    case GreaterThanOrEqual(c, v) => ops(schema, c).flatMap(_.gtEq(v))
    case LessThan(c, v) => ops(schema, c).flatMap(_.lt(v))
    case LessThanOrEqual(c, v) => ops(schema, c).flatMap(_.ltEq(v))
    case IsNull(c) => ops(schema, c).map(_.isNull)
    case IsNotNull(c) => ops(schema, c).map(_.isNotNull)
    case In(c, vs) if vs.nonEmpty =>
      ops(schema, c).flatMap { o =>
        if (vs.length <= 32) {
          val parts = vs.map(o.eq)
          if (parts.exists(_.isEmpty)) None else parts.flatten.reduceOption(FilterApi.or)
        } else {
          // a large ID list would build an unwieldy or-chain; a
          // min/max bound over the sorted literals still prunes row
          // groups wholly outside the list's range (round 18 — before
          // this, lists >32 lost row-group pruning entirely). The
          // batch evaluator enforces exact membership.
          o.range(vs)
        }
      }
    case And(l, r) => (one(schema, l), one(schema, r)) match {
      // AND may keep whichever side is expressible (conservative)
      case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
      case (a, b) => a.orElse(b)
    }
    case Or(l, r) =>
      // OR needs BOTH sides (dropping one would prune matching groups)
      for (a <- one(schema, l); b <- one(schema, r)) yield FilterApi.or(a, b)
    case _ => None // NOT / string ops / sketchy shapes: batch filter handles
  }

  /** Typed predicate factory for one column, or None if the type has
    * no safe physical mapping.
    */
  private trait Ops {
    def eq(v: Any): Option[FilterPredicate]
    def gt(v: Any): Option[FilterPredicate]
    def gtEq(v: Any): Option[FilterPredicate]
    def lt(v: Any): Option[FilterPredicate]
    def ltEq(v: Any): Option[FilterPredicate]
    def isNull: FilterPredicate
    def isNotNull: FilterPredicate
    /** `and(gtEq(min), ltEq(max))` over a large In list's literals —
      * pruning-only (the batch evaluator enforces exact membership).
      * None when ANY literal fails to convert: dropping one literal
      * would prune row groups that match it.
      */
    def range(vs: Array[Any]): Option[FilterPredicate]
  }

  private def ops(schema: StructType, c: String): Option[Ops] = {
    if (c.contains('.') || !schema.fieldNames.contains(c)) return None
    schema(c).dataType match {
      case IntegerType => Some(intOps(c, { case x: java.lang.Integer => x }))
      case ShortType => Some(intOps(c, { case x: java.lang.Short => Int.box(x.intValue) }))
      case ByteType => Some(intOps(c, { case x: java.lang.Byte => Int.box(x.intValue) }))
      case DateType => Some(intOps(c, {
        case d: java.sql.Date => Int.box(DateTimeUtils.fromJavaDate(d))
        case d: java.time.LocalDate => Int.box(DateTimeUtils.localDateToDays(d))
      }))
      case LongType => Some(longOps(c, { case x: java.lang.Long => x }))
      case TimestampType => Some(longOps(c, {
        case t: java.sql.Timestamp => Long.box(DateTimeUtils.fromJavaTimestamp(t))
        case t: java.time.Instant => Long.box(DateTimeUtils.instantToMicros(t))
      }))
      case TimestampNTZType => Some(longOps(c, {
        case t: java.time.LocalDateTime => Long.box(DateTimeUtils.localDateTimeToMicros(t))
      }))
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        // parquet physical for compact decimals (ParquetWriteSupport,
        // non-legacy — [[FileStore.writeBlock]]'s writer): UNSCALED
        // INT32 (precision ≤ 9) / INT64 at the column's fixed scale,
        // with SIGNED stats ordering = unscaled order. Rescale each
        // literal ONCE, exactly; a scale-mismatched literal bails that
        // conjunct (conservative — the batch evaluator enforces it).
        // FLBA-backed precisions (> 18) take no row-group pruning.
        def unscaled(v: Any): Option[Long] = v match {
          case x: java.math.BigDecimal => VectorFilterEval.unscaledExact(x, dt.scale)
          case x: scala.math.BigDecimal => VectorFilterEval.unscaledExact(x.bigDecimal, dt.scale)
          case _ => None
        }
        if (dt.precision <= Decimal.MAX_INT_DIGITS)
          // the int32 narrowing must be provable, not contingent:
          // Spark's analysis casts pushable comparison literals to the
          // column's decimal type (so the unscaled value is bounded by
          // 10^9−1), but that invariant lives two layers up — a
          // literal whose rescaled unscaled value leaves Int range
          // BAILS the conjunct instead of wrapping into a predicate
          // that could prune matching row groups
          Some(intOps(c, Function.unlift((v: Any) =>
            unscaled(v).collect {
              case l if l >= Int.MinValue && l <= Int.MaxValue => Int.box(l.toInt)
            })))
        else
          Some(longOps(c, Function.unlift((v: Any) => unscaled(v).map(Long.box))))
      case DoubleType => Some(new Ops {
        private val col = FilterApi.doubleColumn(c)
        private def v2(v: Any): Option[java.lang.Double] = v match {
          case x: java.lang.Double if !x.isNaN => Some(x)
          case _ => None
        }
        def eq(v: Any) = v2(v).map(FilterApi.eq(col, _))
        def gt(v: Any) = v2(v).map(FilterApi.gt(col, _))
        def gtEq(v: Any) = v2(v).map(FilterApi.gtEq(col, _))
        def lt(v: Any) = v2(v).map(FilterApi.lt(col, _))
        def ltEq(v: Any) = v2(v).map(FilterApi.ltEq(col, _))
        def isNull = FilterApi.eq(col, null.asInstanceOf[java.lang.Double])
        def isNotNull = FilterApi.notEq(col, null.asInstanceOf[java.lang.Double])
        def range(vs: Array[Any]) = {
          val conv = vs.map(v2)
          if (conv.contains(None)) None // a NaN literal is unorderable by stats
          else {
            val xs = conv.map(_.get.doubleValue)
            Some(FilterApi.and(FilterApi.gtEq(col, Double.box(xs.min)),
              FilterApi.ltEq(col, Double.box(xs.max))))
          }
        }
      })
      case FloatType => Some(new Ops {
        private val col = FilterApi.floatColumn(c)
        private def v2(v: Any): Option[java.lang.Float] = v match {
          case x: java.lang.Float if !x.isNaN => Some(x)
          case _ => None
        }
        def eq(v: Any) = v2(v).map(FilterApi.eq(col, _))
        def gt(v: Any) = v2(v).map(FilterApi.gt(col, _))
        def gtEq(v: Any) = v2(v).map(FilterApi.gtEq(col, _))
        def lt(v: Any) = v2(v).map(FilterApi.lt(col, _))
        def ltEq(v: Any) = v2(v).map(FilterApi.ltEq(col, _))
        def isNull = FilterApi.eq(col, null.asInstanceOf[java.lang.Float])
        def isNotNull = FilterApi.notEq(col, null.asInstanceOf[java.lang.Float])
        def range(vs: Array[Any]) = {
          val conv = vs.map(v2)
          if (conv.contains(None)) None
          else {
            val xs = conv.map(_.get.floatValue)
            Some(FilterApi.and(FilterApi.gtEq(col, Float.box(xs.min)),
              FilterApi.ltEq(col, Float.box(xs.max))))
          }
        }
      })
      case StringType => Some(new Ops {
        private val col = FilterApi.binaryColumn(c)
        private def v2(v: Any): Option[Binary] = v match {
          case s: String => Some(Binary.fromString(s))
          case _ => None
        }
        def eq(v: Any) = v2(v).map(FilterApi.eq(col, _))
        def gt(v: Any) = v2(v).map(FilterApi.gt(col, _))
        def gtEq(v: Any) = v2(v).map(FilterApi.gtEq(col, _))
        def lt(v: Any) = v2(v).map(FilterApi.lt(col, _))
        def ltEq(v: Any) = v2(v).map(FilterApi.ltEq(col, _))
        def isNull = FilterApi.eq(col, null.asInstanceOf[Binary])
        def isNotNull = FilterApi.notEq(col, null.asInstanceOf[Binary])
        def range(vs: Array[Any]) = {
          // min/max by UNSIGNED byte order (UTF8String.compareTo) —
          // the comparator parquet's own string statistics use
          val utf = vs.map { case s: String => UTF8String.fromString(s); case _ => null }
          if (utf.contains(null)) None
          else Some(FilterApi.and(
            FilterApi.gtEq(col, Binary.fromString(utf.min.toString)),
            FilterApi.ltEq(col, Binary.fromString(utf.max.toString))))
        }
      })
      case _ => None
    }
  }

  private def intOps(c: String, conv: PartialFunction[Any, java.lang.Integer]): Ops = new Ops {
    private val col = FilterApi.intColumn(c)
    private def v2(v: Any): Option[java.lang.Integer] = conv.lift(v)
    def eq(v: Any) = v2(v).map(FilterApi.eq(col, _))
    def gt(v: Any) = v2(v).map(FilterApi.gt(col, _))
    def gtEq(v: Any) = v2(v).map(FilterApi.gtEq(col, _))
    def lt(v: Any) = v2(v).map(FilterApi.lt(col, _))
    def ltEq(v: Any) = v2(v).map(FilterApi.ltEq(col, _))
    def isNull = FilterApi.eq(col, null.asInstanceOf[java.lang.Integer])
    def isNotNull = FilterApi.notEq(col, null.asInstanceOf[java.lang.Integer])
    def range(vs: Array[Any]) = {
      val conv = vs.map(v2)
      if (conv.contains(None)) None
      else {
        val xs = conv.map(_.get.intValue)
        Some(FilterApi.and(FilterApi.gtEq(col, Int.box(xs.min)),
          FilterApi.ltEq(col, Int.box(xs.max))))
      }
    }
  }

  private def longOps(c: String, conv: PartialFunction[Any, java.lang.Long]): Ops = new Ops {
    private val col = FilterApi.longColumn(c)
    private def v2(v: Any): Option[java.lang.Long] = conv.lift(v)
    def eq(v: Any) = v2(v).map(FilterApi.eq(col, _))
    def gt(v: Any) = v2(v).map(FilterApi.gt(col, _))
    def gtEq(v: Any) = v2(v).map(FilterApi.gtEq(col, _))
    def lt(v: Any) = v2(v).map(FilterApi.lt(col, _))
    def ltEq(v: Any) = v2(v).map(FilterApi.ltEq(col, _))
    def isNull = FilterApi.eq(col, null.asInstanceOf[java.lang.Long])
    def isNotNull = FilterApi.notEq(col, null.asInstanceOf[java.lang.Long])
    def range(vs: Array[Any]) = {
      val conv = vs.map(v2)
      if (conv.contains(None)) None
      else {
        val xs = conv.map(_.get.longValue)
        Some(FilterApi.and(FilterApi.gtEq(col, Long.box(xs.min)),
          FilterApi.ltEq(col, Long.box(xs.max))))
      }
    }
  }
}
