package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, NullType, StructType}

/** Range bounds on a clustered column, provable from a scan's pushed
  * conjuncts — the fetch-side companion of [[BucketPruning]]: where
  * bucket pruning bounds WHICH buckets a key predicate can touch,
  * cluster-range slicing bounds WHERE IN a sorted bucket a range
  * predicate's rows can live. Both are strictly conservative fetch
  * optimizations: every fetched row is still evaluated against the
  * full pushed-filter set ([[VectorFilterEval]]), so correctness never
  * depends on the slice — only pages moved do.
  *
  * At 100 TB this is the clustered-index scan: a time-series table
  * clustered on `ts` serves `WHERE ts BETWEEN …` by binary-searching
  * each bucket's sorted run and streaming pages of the qualifying
  * slice — I/O proportional to the answer, not the bucket (the same
  * reason Parquet row-group min/max pruning works; here the layout is
  * the store's, so the "server" skips before any page crosses the
  * wire).
  */
final case class ClusterRange(lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)]) {
  def isBounded: Boolean = lo.isDefined || hi.isDefined
  def describe: String = {
    def b(side: Option[(Any, Boolean)], op: String, opEq: String) =
      side.map { case (v, incl) => s"${if (incl) opEq else op}$v" }
    s"[${(b(lo, ">", ">=") ++ b(hi, "<", "<=")).mkString(", ")}]"
  }
}

object ClusterRange {

  /** Bounds on `col` provable from the pushed conjuncts, compared in
    * the column's [[KeyOrder]]. Only top-level comparisons participate
    * (the filter array is an AND); anything else is ignored —
    * conservative by construction.
    */
  def from(filters: Array[Filter], col: String, ord: Ordering[Any]): ClusterRange =
    filters.foldLeft(ClusterRange(None, None)) { (acc, f) =>
      f match {
        case GreaterThan(c, v) if c == col && v != null => tightenLo(ord, acc, v, incl = false)
        case GreaterThanOrEqual(c, v) if c == col && v != null => tightenLo(ord, acc, v, incl = true)
        case LessThan(c, v) if c == col && v != null => tightenHi(ord, acc, v, incl = false)
        case LessThanOrEqual(c, v) if c == col && v != null => tightenHi(ord, acc, v, incl = true)
        case EqualTo(c, v) if c == col && v != null =>
          tightenHi(ord, tightenLo(ord, acc, v, incl = true), v, incl = true)
        case _ => acc
      }
    }

  private def tightenLo(ord: Ordering[Any], r: ClusterRange, v: Any,
      incl: Boolean): ClusterRange = r.lo match {
    case None => r.copy(lo = Some((v, incl)))
    case Some((cur, curIncl)) =>
      val c = ord.compare(v, cur)
      if (c > 0) r.copy(lo = Some((v, incl)))
      else if (c == 0) r.copy(lo = Some((cur, curIncl && incl)))
      else r
  }

  private def tightenHi(ord: Ordering[Any], r: ClusterRange, v: Any,
      incl: Boolean): ClusterRange = r.hi match {
    case None => r.copy(hi = Some((v, incl)))
    case Some((cur, curIncl)) =>
      val c = ord.compare(v, cur)
      if (c < 0) r.copy(hi = Some((v, incl)))
      else if (c == 0) r.copy(hi = Some((cur, curIncl && incl)))
      else r
  }

  /** The [start, end) slice of `rows` (sorted on column `i`, nulls
    * first) that can satisfy the range. Binary searches both edges —
    * O(log n) comparisons, never a scan. A defined lower bound also
    * excludes the null prefix (NULL never satisfies a range
    * predicate); with only an upper bound the nulls stay in the slice
    * and the pushed filter drops them per row (conservative, simple).
    */
  def sliceSorted(rows: Array[Row], schema: StructType, i: Int, range: ClusterRange): (Int, Int) =
    sliceSortedCompound(rows, schema, Array(i), Seq(range))

  /** The per-column bounds a COMPOUND cluster key can actually use:
    * the composite-index prefix rule. A lexicographic sort on
    * (c1, …, cn) localizes a predicate only through the longest
    * prefix of EQUALITY-bounded columns plus at most one range-bounded
    * column after it — bounds on columns past the first non-equality
    * cannot narrow the binary search (rows matching `c2 > 5` are
    * scattered across every c1 run) and are left to the row filter.
    * Returns one [[ClusterRange]] per usable column, possibly empty.
    */
  def compoundFrom(filters: Array[Filter], schema: StructType, cols: Seq[String]): Seq[ClusterRange] = {
    val out = Seq.newBuilder[ClusterRange]
    var open = true
    for (c <- cols if open) {
      // a column the schema lacks has no pushed bound, so no compare
      val ord = KeyOrder.of(schema.find(_.name == c).fold[DataType](NullType)(_.dataType))
      val r = from(filters, c, ord)
      val exact = (r.lo, r.hi) match {
        case (Some((lv, true)), Some((hv, true))) => ord.compare(lv, hv) == 0
        case _ => false
      }
      if (exact) out += r
      else {
        if (r.isBounded) out += r
        open = false // range (or unbounded) column ends the usable prefix
      }
    }
    out.result()
  }

  /** Compound [[sliceSorted]]: `rows` sorted lexicographically on the
    * columns at `idxs` (each asc, nulls first), `ranges` the usable
    * per-column bounds from [[compoundFrom]] (equalities, then at most
    * one trailing range). Both edges are one lexicographic binary
    * search over the bound TUPLE — the tuple's last component carries
    * the only open inclusivity; everything before it is an equality.
    */
  def sliceSortedCompound(rows: Array[Row], schema: StructType, idxs: Array[Int],
      ranges: Seq[ClusterRange]): (Int, Int) = {
    if (ranges.isEmpty) return (0, rows.length)
    // first index where keep(m) is true (keep monotone over the sort)
    def lowerBound(keep: Int => Boolean): Int = {
      var lo = 0
      var hi = rows.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (keep(m)) hi = m else lo = m + 1
      }
      lo
    }
    // the bound tuple for one side: bounds up to the first missing one
    // (equality columns always carry both sides; only the trailing
    // range column can be one-sided), as a row holding them at the key
    // columns, with the cluster order over that key prefix.
    // Inclusivity = the tuple's LAST component's — earlier components
    // are exact matches.
    val width = if (idxs.isEmpty) 0 else idxs.max + 1
    def tuple(side: ClusterRange => Option[(Any, Boolean)]): (Ordering[Row], Row, Boolean) = {
      val defined = ranges.map(side).takeWhile(_.isDefined).map(_.get)
      val bound = new Array[Any](width)
      defined.indices.foreach(k => bound(idxs(k)) = defined(k)._1)
      (if (defined.isEmpty) null else KeyOrder.rows(schema, idxs.take(defined.length)),
        Row.fromSeq(bound.toSeq), defined.lastOption.forall(_._2))
    }
    val (loOrd, loRow, loIncl) = tuple(_.lo)
    val (hiOrd, hiRow, hiIncl) = tuple(_.hi)
    // bound values are non-null by construction (from() requires it),
    // so a row with NULL in a bounded component compares < and the
    // null prefix falls outside a defined lower bound — matching the
    // single-column contract
    val start =
      if (loOrd == null) 0
      else lowerBound(m => { val c = loOrd.compare(rows(m), loRow); if (loIncl) c >= 0 else c > 0 })
    val end =
      if (hiOrd == null) rows.length
      else lowerBound(m => { val c = hiOrd.compare(rows(m), hiRow); if (hiIncl) c > 0 else c >= 0 })
    (start, math.max(start, end))
  }
}

/** A provable slice of a compound-clustered bucket: the cluster
  * columns (layout order) paired with the usable bounds
  * ([[ClusterRange.compoundFrom]]). What the scan hands the fetch so
  * the server binary-searches the sorted run once, lexicographically.
  */
final case class ClusterSlice(cols: Seq[String], ranges: Seq[ClusterRange]) {
  def describe: String =
    cols.zip(ranges).map { case (c, r) => s"$c${r.describe}" }.mkString("(", ", ", ")")
}

object ClusterSlice {
  /** The slice provable from `filters` over cluster columns `cols` —
    * None when no usable bound exists (fetch streams the bucket).
    */
  def from(filters: Array[Filter], schema: StructType, cols: Seq[String]): Option[ClusterSlice] = {
    val ranges = ClusterRange.compoundFrom(filters, schema, cols)
    if (ranges.isEmpty) None else Some(ClusterSlice(cols.take(ranges.length), ranges))
  }
}
