package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The store's one pushed-filter evaluator: the claim rule
  * ([[supports]]) and the compiler ([[compile]]) for every filter a
  * scan, a pushed aggregate, a merge-on-read overlay or a
  * `DELETE … WHERE` enforces. The scan CLAIMS its pushed filters (so
  * aggregate/limit/top-N pushdown keep composing above it — returning
  * them as residuals would put a Catalyst `Filter` between `Aggregate`
  * and the relation and kill aggregate pushdown for every filtered
  * aggregate), and Spark plans no re-check above a claimed filter, so
  * each one must be enforced exactly.
  *
  * Predicates run over `ColumnarBatch` rows: a cold bucket's decoded
  * parquet vectors, or stored rows read in place through
  * [[RowColumnVector]]s ([[rows]] is the per-row adapter). Literals
  * convert ONCE to the vector's internal form (UTF8String bytes, date
  * days, timestamp micros, a compact decimal's unscaled long) and each
  * conjunct compiles to a primitive comparison closure; only the
  * filter's referenced columns are ever read.
  *
  * Evaluation is three-valued (1 = true, 0 = false, −1 = unknown) with
  * Kleene connectives: a NULL operand is unknown, unknown propagates
  * through NOT (¬unknown = unknown), AND (false dominates) and OR (true
  * dominates), and a row is kept only when every conjunct is definitely
  * true. `c IN ()` is false on every row, NULL included — Spark's
  * answer with `spark.sql.legacy.nullInEmptyListBehavior` at its
  * default — so `NOT (c IN ())` keeps a NULL row. Every comparison is
  * [[KeyOrder.cell]], the vector side of the store's one value order
  * (UTF8String's byte order is the code-point order [[KeyOrder]] gives
  * external strings; a numeric literal of another class than the
  * column's compares exactly through [[KeyOrder.of]]).
  */
object VectorFilterEval {

  import KeyOrder.{BatchInt, BatchLong, BatchTest}

  /** 1 = true, 0 = false, -1 = unknown (NULL operand). */
  type Pred = BatchInt

  /** Whether the store enforces `f` exactly over a `schema` row: the one
    * claim rule of the scan's pushdown, `canDeleteWhere` and the
    * row-level prune. A comparison is claimed only when the column's
    * order compares the literal ([[KeyOrder.compares]]): the column TYPE
    * decides as much as the literal's class (an Int literal on a
    * BOOLEAN, BINARY or STRING column stays with Spark's post-scan
    * Filter).
    */
  def supports(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(c, v) => comparable(schema, c, v)
    case EqualNullSafe(c, v) => comparable(schema, c, v)
    case GreaterThan(c, v) => comparable(schema, c, v)
    case GreaterThanOrEqual(c, v) => comparable(schema, c, v)
    case LessThan(c, v) => comparable(schema, c, v)
    case LessThanOrEqual(c, v) => comparable(schema, c, v)
    case IsNull(c) => schema.fieldNames.contains(c)
    case IsNotNull(c) => schema.fieldNames.contains(c)
    case In(c, vs) => vs.forall(comparable(schema, c, _))
    case StringStartsWith(c, _) => stringCol(schema, c)
    case StringEndsWith(c, _) => stringCol(schema, c)
    case StringContains(c, _) => stringCol(schema, c)
    case AlwaysTrue() | AlwaysFalse() => true
    case And(l, r) => supports(schema, l) && supports(schema, r)
    case Or(l, r) => supports(schema, l) && supports(schema, r)
    case Not(x) => supports(schema, x)
    case _ => false
  }

  private def comparable(schema: StructType, c: String, v: Any): Boolean =
    schema.fieldNames.contains(c) && KeyOrder.compares(schema(c).dataType, v)

  private def stringCol(schema: StructType, c: String): Boolean =
    schema.fieldNames.contains(c) && schema(c).dataType == StringType

  /** The conjunction of `filters` over a batch row: true only when every
    * conjunct is true. Total on claimed filters; a filter [[supports]]
    * does not claim throws.
    */
  def compile(schema: StructType, filters: Array[Filter]): BatchTest = {
    val ps: Array[Pred] = filters.map { f =>
      if (!supports(schema, f)) throw new IllegalStateException(s"unsupported pushed filter $f")
      compileOne(schema, f)
    }
    (b, r) => {
      var i = 0
      while (i < ps.length && ps(i)(b, r) == 1) i += 1
      i == ps.length
    }
  }

  /** [[compile]] as a row predicate: each row is read as a one-row page
    * of [[RowColumnVector]]s. The predicate reuses that page, so it
    * belongs to one thread.
    */
  def rows(schema: StructType, filters: Array[Filter]): Row => Boolean =
    if (filters.isEmpty) _ => true
    else {
      val page = new Array[Row](1)
      val batch = new ColumnarBatch(schema.fields.zipWithIndex.map[ColumnVector] {
        case (f, i) => new RowColumnVector(f.dataType, page, i)
      })
      batch.setNumRows(1)
      val keep = compile(schema, filters)
      r => { page(0) = r; keep(batch, 0) }
    }

  private def compileOne(schema: StructType, f: Filter): Pred = f match {
    case EqualTo(c, v) => nullAwareCmp(schema, c, v)(_ == 0)
    case EqualNullSafe(c, v) =>
      // <=> is never unknown: NULL <=> literal is definitively false
      // (a null literal is rewritten to IsNull before pushdown)
      val i = schema.fieldIndex(c)
      val cf = cmpFn(schema, i, v)
      (b, r) => if (b.column(i).isNullAt(r)) 0 else if (cf(b, r) == 0) 1 else 0
    case GreaterThan(c, v) => nullAwareCmp(schema, c, v)(_ > 0)
    case GreaterThanOrEqual(c, v) => nullAwareCmp(schema, c, v)(_ >= 0)
    case LessThan(c, v) => nullAwareCmp(schema, c, v)(_ < 0)
    case LessThanOrEqual(c, v) => nullAwareCmp(schema, c, v)(_ <= 0)
    case IsNull(c) =>
      val i = schema.fieldIndex(c)
      (b, r) => if (b.column(i).isNullAt(r)) 1 else 0
    case IsNotNull(c) =>
      val i = schema.fieldIndex(c)
      (b, r) => if (b.column(i).isNullAt(r)) 0 else 1
    case In(_, vs) if vs.isEmpty => (_, _) => 0
    case In(c, vs) =>
      val i = schema.fieldIndex(c)
      // a type-specialized probe over the literal list converted ONCE
      // (round 18): O(log n)/O(1) per row where a per-literal loop is
      // O(|list|), linear-in-list for `k IN (<hundreds of ids>)`
      inProbe(schema, i, vs) match {
        case Some(probe) =>
          (b, r) => if (b.column(i).isNullAt(r)) -1 else if (probe(b, r)) 1 else 0
        case None =>
          // a literal of another class than the column's: per-literal
          // compares through cmpFn's exact path
          val arr = vs.map(cmpFn(schema, i, _))
          (b, r) =>
            if (b.column(i).isNullAt(r)) -1
            else {
              var k = 0
              while (k < arr.length && arr(k)(b, r) != 0) k += 1
              if (k < arr.length) 1 else 0
            }
      }
    case StringStartsWith(c, v) => stringPred(schema, c, UTF8String.fromString(v))(_.startsWith(_))
    case StringEndsWith(c, v) => stringPred(schema, c, UTF8String.fromString(v))(_.endsWith(_))
    case StringContains(c, v) => stringPred(schema, c, UTF8String.fromString(v))(_.contains(_))
    case AlwaysTrue() => (_, _) => 1
    case AlwaysFalse() => (_, _) => 0
    case And(l, r) =>
      val lp = compileOne(schema, l)
      val rp = compileOne(schema, r)
      (b, row) => {
        val x = lp(b, row)
        if (x == 0) 0
        else {
          val y = rp(b, row)
          if (y == 0) 0 else if (x == 1 && y == 1) 1 else -1
        }
      }
    case Or(l, r) =>
      val lp = compileOne(schema, l)
      val rp = compileOne(schema, r)
      (b, row) => {
        val x = lp(b, row)
        if (x == 1) 1
        else {
          val y = rp(b, row)
          if (y == 1) 1 else if (x == 0 && y == 0) 0 else -1
        }
      }
    case Not(x) =>
      val p = compileOne(schema, x)
      (b, r) => { val a = p(b, r); if (a == -1) -1 else 1 - a }
    case _ => throw new IllegalStateException(s"unsupported pushed filter $f")
  }

  /** Type-specialized membership probe over a PRE-CONVERTED literal
    * set for `In`: primitive-backed types probe a sorted long array
    * (binary search, zero boxing) of the literals' [[KeyOrder.internal]]
    * forms, strings probe a UTF8String hash set. None when any literal
    * has no internal form (a literal of another class than the
    * column's): the caller's per-literal compares keep the semantics
    * then. Floating point
    * probes by [[canonicalBits]] so membership matches
    * [[KeyOrder.compareDoubles]] equality exactly: -0.0 == 0.0 and
    * NaN == NaN.
    */
  private def inProbe(schema: StructType, i: Int, vs: Array[Any])
      : Option[BatchTest] = {
    val dt = schema(i).dataType
    val lits = vs.map(KeyOrder.internal(dt, _))
    def longSet(key: Any => Long, get: BatchLong): Option[BatchTest] = {
      val arr: Array[Long] = lits.map(key).distinct.sorted
      Some((b, r) => java.util.Arrays.binarySearch(arr, get(b, r)) >= 0)
    }
    val integral: Any => Long = _.asInstanceOf[Number].longValue
    if (lits.contains(null)) None
    else dt match {
      case IntegerType | DateType => longSet(integral, (b, r) => b.column(i).getInt(r).toLong)
      case ShortType => longSet(integral, (b, r) => b.column(i).getShort(r).toLong)
      case ByteType => longSet(integral, (b, r) => b.column(i).getByte(r).toLong)
      case LongType | TimestampType | TimestampNTZType =>
        longSet(integral, (b, r) => b.column(i).getLong(r))
      case DoubleType => longSet(v => canonicalBits(v.asInstanceOf[Double]),
        (b, r) => canonicalBits(b.column(i).getDouble(r)))
      case FloatType => longSet(v => canonicalBits(v.asInstanceOf[Float].toDouble),
        (b, r) => canonicalBits(b.column(i).getFloat(r).toDouble))
      case StringType =>
        val set = new java.util.HashSet[UTF8String](vs.length * 2)
        lits.foreach(l => set.add(l.asInstanceOf[UTF8String]))
        Some((b, r) => set.contains(b.column(i).getUTF8String(r)))
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        // probe the UNSCALED long at the column's fixed scale (round
        // 19 — `dec IN (...)` was the one In shape left at O(|list|)
        // BigDecimal compares per row). A literal that does not
        // rescale EXACTLY can equal no column value: DROPPED from the
        // probe set (semantically exact), never a reason to bail.
        val arr: Array[Long] = lits
          .flatMap(l => KeyOrder.unscaledExact(l.asInstanceOf[java.math.BigDecimal], dt.scale))
          .distinct.sorted
        val get = KeyOrder.unscaledGetter(i, dt)
        Some((b, r) => java.util.Arrays.binarySearch(arr, get(b, r)) >= 0)
      case dt: DecimalType =>
        // FLBA-backed precisions (> 18, round 20): no unscaled-long
        // space to probe in, but equality is still exact set
        // membership over VALUE-canonical (stripTrailingZeros'd)
        // BigDecimals — `big_money IN (...)` stays vectorized instead
        // of demoting the scan. Row-group pruning stays off for FLBA
        // (parquet's FLBA comparator pitfalls); this is membership
        // only.
        val set = new java.util.HashSet[java.math.BigDecimal](vs.length * 2)
        lits.foreach(l => set.add(l.asInstanceOf[java.math.BigDecimal].stripTrailingZeros()))
        Some((b, r) => set.contains(
          b.column(i).getDecimal(r, dt.precision, dt.scale)
            .toJavaBigDecimal.stripTrailingZeros()))
      case _ => None
    }
  }

  /** doubleToLongBits with ±0.0 folded to one key, so bit-equality of
    * the keys matches [[KeyOrder.compareDoubles]]'s equality outcomes
    * exactly: -0.0 == 0.0 (folded) and NaN == NaN (doubleToLongBits
    * already canonicalizes every NaN payload to one pattern).
    */
  private[bucketed] def canonicalBits(d: Double): Long =
    java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)

  private def nullAwareCmp(schema: StructType, c: String, v: Any)(sign: Int => Boolean): Pred = {
    val i = schema.fieldIndex(c)
    val cf = cmpFn(schema, i, v)
    (b, r) => if (b.column(i).isNullAt(r)) -1 else if (sign(cf(b, r))) 1 else 0
  }

  private def stringPred(schema: StructType, c: String, lit: UTF8String)(
      test: (UTF8String, UTF8String) => Boolean): Pred = {
    val i = schema.fieldIndex(c)
    (b, r) =>
      if (b.column(i).isNullAt(r)) -1
      else if (test(b.column(i).getUTF8String(r), lit)) 1 else 0
  }

  /** Sign-of-comparison closure for a non-null cell of column `i`
    * against a claimed literal ([[KeyOrder.cell]]).
    */
  private def cmpFn(schema: StructType, i: Int, v: Any): BatchInt =
    KeyOrder.cell(schema(i).dataType, i, v).getOrElse(
      throw new IllegalStateException(s"no compare for ${v.getClass} in column ${schema(i).name}"))
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
    val dt = schema(c).dataType
    // a literal's stats-comparable physical value: its vector form
    def internal(v: Any): Option[Number] = Option(KeyOrder.internal(dt, v).asInstanceOf[Number])
    dt match {
      case IntegerType | ShortType | ByteType | DateType =>
        Some(intOps(c, internal(_).map(n => Int.box(n.intValue))))
      case LongType | TimestampType | TimestampNTZType =>
        Some(longOps(c, internal(_).map(n => Long.box(n.longValue))))
      case dt: DecimalType if dt.precision <= Decimal.MAX_LONG_DIGITS =>
        // parquet physical for compact decimals (ParquetWriteSupport,
        // non-legacy — [[FileStore.writeBlock]]'s writer): UNSCALED
        // INT32 (precision ≤ 9) / INT64 at the column's fixed scale,
        // with SIGNED stats ordering = unscaled order. Rescale each
        // literal ONCE, exactly; a scale-mismatched literal bails that
        // conjunct (conservative — the batch evaluator enforces it).
        // FLBA-backed precisions (> 18) take no row-group pruning.
        def unscaled(v: Any): Option[Long] =
          internal(v).flatMap(x => KeyOrder.unscaledExact(x.asInstanceOf[java.math.BigDecimal], dt.scale))
        if (dt.precision <= Decimal.MAX_INT_DIGITS)
          // the int32 narrowing must be provable, not contingent:
          // Spark's analysis casts pushable comparison literals to the
          // column's decimal type (so the unscaled value is bounded by
          // 10^9−1), but that invariant lives two layers up — a
          // literal whose rescaled unscaled value leaves Int range
          // BAILS the conjunct instead of wrapping into a predicate
          // that could prune matching row groups
          Some(intOps(c, unscaled(_).collect {
            case l if l >= Int.MinValue && l <= Int.MaxValue => Int.box(l.toInt)
          }))
        else
          Some(longOps(c, unscaled(_).map(Long.box)))
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

  private def intOps(c: String, v2: Any => Option[java.lang.Integer]): Ops = new Ops {
    private val col = FilterApi.intColumn(c)
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

  private def longOps(c: String, v2: Any => Option[java.lang.Long]): Ops = new Ops {
    private val col = FilterApi.longColumn(c)
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
