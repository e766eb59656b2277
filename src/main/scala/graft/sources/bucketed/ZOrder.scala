package graft.sources.bucketed

import org.apache.spark.sql.Row

/** Z-order (Morton) clustering: the multi-dimensional layout option
  * for [[BucketStore]] cluster keys. Where a lexicographic compound
  * key `"c1,c2"` localizes only prefix predicates (equality on c1
  * before a range on c2 — [[ClusterRange.compoundFrom]]), the spec
  * `"zorder(c1,c2)"` keeps each bucket sorted by the interleaved-bit
  * Morton code of the columns, so rows close in ANY clustered
  * dimension land close in storage — and the block-level zone maps
  * ([[BucketSkip.blockProbe]], [[HostConnection.fetchBucket]])
  * become tight on every clustered column at once. A range predicate
  * on c2 alone, useless to the lexicographic layout, now skips most
  * blocks of every bucket.
  *
  * Deliberate division of labor, the one Delta/Iceberg OPTIMIZE ZORDER
  * ships: the curve only PLACES rows; pruning correctness lives
  * entirely in the per-block min/max statistics, which are built from
  * the actual rows and are conservative regardless of layout. No
  * BIGMIN curve arithmetic, no claim that the sort is provable — a
  * z-ordered table never offers a [[ClusterSlice]] (binary-search
  * slicing needs the lexicographic prefix rule), it offers tighter
  * blocks. At 100 TB the blocks are parquet row groups and the zone
  * maps are their footers; here both are the store's own
  * (row-group-sized runs of the bucket array + [[BucketSkip]] stats).
  *
  * The dimension mapping is ORDER-PRESERVING per column (unsigned
  * 64-bit keys), which gives the one property pruning leans on and
  * ZOrderSpec pins: if p ≤ q in every clustered dimension then
  * morton(p) ≤ morton(q) — so a sorted bucket's blocks cover
  * axis-aligned boxes, the reason the zone maps come out tight.
  *
  * Dimensions are RANK-NORMALIZED before interleaving (round 10):
  * raw bit interleaving lets a column whose values vary over many
  * more bits than its partner dominate the curve — epoch-micros
  * timestamps (≥40 varying bits) against a small id space destroy
  * the id's locality. Each dimension therefore maps through frozen
  * equi-depth rank boundaries ([[boundsOf]], computed at the table's
  * first data commit — the write-side sample) so every dimension
  * contributes the same [[RankBits]] top bits, exactly Delta's
  * OPTIMIZE ZORDER shape (range-partition ids, not values). The raw
  * key's high bits refine ties within a rank slab. Raw interleave
  * ([[key]]) remains the zero-data fallback; either way zone maps
  * are computed from actual rows, so curve quality affects pruning
  * tightness only, never answers.
  *
  * Reference correspondence: the reference's column tables keep no
  * multi-dimensional order (row position = insertion,
  * ColumnFormatEntry.scala:30-41); this is the layout dimension a
  * 100 TB curation store adds on top.
  */
object ZOrder {

  /** Version of the per-dimension KEY FUNCTIONS a z layout's stored
    * sort order was built with — stamped into every manifest and
    * carried on the table, because the stored order is only as good
    * as the comparator that produced it and the key functions have
    * CHANGED across releases:
    *
    *  - version 0 (manifests predating the `vacuumMinAgeMs` field):
    *    `java.sql.Date` keyed by `getTime` epoch MILLIS (timezone-
    *    dependent!), `LocalDate` by epoch day (so the two externals of
    *    one date column were incommensurate), TIMESTAMP_NTZ keyed by
    *    the constant 0. That order is not reproducible (it depended on
    *    the writer's session timezone and java8API setting), so a v0
    *    layout whose z-dimensions include a DATE or TIMESTAMP_NTZ
    *    column is HEALED at open — re-sorted under the current keys —
    *    instead of trusted ([[BucketStore]] openFromDisk).
    *  - version 1 (manifests carrying `vacuumMinAgeMs` but no
    *    `zKeyVersion`): dates key by epoch day on both externals, NTZ
    *    by its micros — identical to current EXCEPT decimals, which
    *    still key through `doubleValue` (ties beyond 2^53).
    *  - version 2 (current): compact decimals (precision ≤ 18) key
    *    EXACTLY by the unscaled long at the column scale
    *    ([[dimKeyFn]]); everything else as v1.
    *
    * A v1 table keeps its double-keyed decimal order (correct, merely
    * coarser locality) until an explicit full re-sort (`recluster` /
    * `CALL graft.reorder`) upgrades it — stored sort order and
    * comparator never diverge silently.
    */
  val KEY_VERSION: Int = 2

  private val Spec = """(?i)\s*zorder\s*\(([^)]*)\)\s*""".r

  /** Is this cluster-key property a z-order spec (`"zorder(a,b)"`)? */
  def isSpec(s: String): Boolean = Spec.pattern.matcher(s).matches()

  /** The column list of a z-order spec; None for a plain/compound
    * lexicographic key.
    */
  def colsOf(s: String): Option[Seq[String]] = s match {
    case Spec(inner) =>
      Some(inner.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    case _ => None
  }

  /** One dimension value → unsigned 64-bit key, order-preserving
    * within the column's type family (the same families
    * [[KeyOrder]] orders): integrals shift by Long.MinValue,
    * floats use the IEEE total-order bit trick, timestamps map through
    * epoch millis (NTZ through its session-independent micros), dates
    * through epoch days, strings take their first 8 UTF-8
    * bytes big-endian (ties beyond 8 bytes collapse — locality only,
    * never correctness), decimals round through double (monotone,
    * but values agreeing in the nearest double — e.g. beyond 2^53 —
    * collapse to ties, the same locality-only caveat as strings).
    * NULL maps to 0 = the curve's origin, the
    * nulls-first convention the lexicographic layout also uses.
    * Unknown types map to 0: no locality contribution, still correct
    * (zone maps do the pruning).
    */
  def dimKey(v: Any): Long = v match {
    case null => 0L
    case x: Long => x ^ Long.MinValue
    case x: Int => x.toLong ^ Long.MinValue
    case x: Short => x.toLong ^ Long.MinValue
    case x: Byte => x.toLong ^ Long.MinValue
    case x: Double => floatingKey(java.lang.Double.doubleToLongBits(x))
    case x: Float => floatingKey(java.lang.Double.doubleToLongBits(x.toDouble))
    case x: java.math.BigDecimal => floatingKey(java.lang.Double.doubleToLongBits(x.doubleValue))
    case x: scala.math.BigDecimal => floatingKey(java.lang.Double.doubleToLongBits(x.doubleValue))
    case x: java.sql.Timestamp => x.getTime ^ Long.MinValue
    case x: java.time.Instant => x.toEpochMilli ^ Long.MinValue
    // BOTH date externals key by EPOCH DAY — the single unit the
    // vectorized side also uses (the stored int IS the epoch day), so
    // legacy java.sql.Date and java8API LocalDate rows land on the
    // same curve position (millis-vs-days asymmetry fixed round 19)
    case x: java.sql.Date => x.toLocalDate.toEpochDay ^ Long.MinValue
    case x: java.time.LocalDate => x.toEpochDay ^ Long.MinValue
    // TIMESTAMP_NTZ is a REAL dimension (round 19): keyed by its
    // session-independent micros, matching the vector side's raw long
    case x: java.time.LocalDateTime =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(x) ^ Long.MinValue
    case x: String => stringKey(x)
    case x: Boolean => (if (x) 1L else 0L) ^ Long.MinValue
    case _ => 0L
  }

  /** Per-dimension key function specialized on the COLUMN type and the
    * layout's [[KEY_VERSION]]: compact decimals (precision ≤ 18) under
    * version ≥ 2 key EXACTLY by the unscaled long at the column scale
    * — adjacent money values beyond 2^53 (ties under the double key)
    * stay distinct on the curve, and the key matches the vectorized
    * side's unscaled storage with no floating round-trip. Every other
    * (type, version) pair shares [[dimKey]]. Values carrying a FINER
    * scale than the column's (heap rows — the store's DECIMAL columns
    * are scale-normalized on the cold path but not the heap path)
    * floor to the column scale: monotone, ties only, locality-not-
    * correctness like every other key collapse here.
    */
  def dimKeyFn(dt: org.apache.spark.sql.types.DataType, zKeyVersion: Int): Any => Long =
    dt match {
      case d: org.apache.spark.sql.types.DecimalType
          if zKeyVersion >= 2 && d.precision <= 18 =>
        decimalKey(_, d.scale)
      case _ => dimKey
    }

  /** The per-dimension key functions for z-columns `idxs` of `schema`
    * at layout key version `zKeyVersion`.
    */
  def keyFns(schema: org.apache.spark.sql.types.StructType, idxs: Array[Int],
      zKeyVersion: Int): Array[Any => Long] =
    idxs.map(i => dimKeyFn(schema(i).dataType, zKeyVersion))

  /** Exact order-preserving key for a compact decimal at `scale`:
    * floor-rescale to the column scale (monotone; only out-of-column-
    * scale heap values collapse), then the unscaled long shifted to
    * unsigned. Out-of-range unscaled values (out-of-precision heap
    * rows) SATURATE — still monotone at the extremes.
    */
  def decimalKey(v: Any, scale: Int): Long = v match {
    case null => 0L
    case x: java.math.BigDecimal => decimalUnscaledKey(x, scale)
    case x: scala.math.BigDecimal => decimalUnscaledKey(x.bigDecimal, scale)
    case other => dimKey(other)
  }

  private def decimalUnscaledKey(x: java.math.BigDecimal, scale: Int): Long = {
    val u = x.setScale(scale, java.math.RoundingMode.FLOOR).unscaledValue
    val l =
      if (u.bitLength > 63) { if (u.signum >= 0) Long.MaxValue else Long.MinValue }
      else u.longValue
    l ^ Long.MinValue
  }

  /** IEEE-754 total order as unsigned: negative floats reverse
    * (~bits), non-negative set the top bit — the standard radix-sort
    * key for doubles (NaN lands above +Inf, matching
    * [[KeyOrder]]'s NaN-as-largest).
    */
  private[bucketed] def floatingKey(bits: Long): Long =
    if (bits < 0) ~bits else bits | Long.MinValue

  /** First 8 UTF-8 bytes, big-endian, zero-padded — unsigned compare
    * of the key matches the byte-wise (Spark UTF8String binary)
    * ordering through those bytes. `bytesKey` is the shared core so
    * the vectorized merge can key a UTF8String's bytes without a
    * String round-trip.
    */
  private def stringKey(s: String): Long =
    bytesKey(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[bucketed] def bytesKey(b: Array[Byte]): Long = {
    var k = 0L
    var i = 0
    while (i < 8) {
      k = (k << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    k
  }

  /** Morton code of `d` unsigned 64-bit dim keys: `d` words, bits
    * interleaved MSB-first round-robin (output bit `i` = bit
    * `63 - i/d` of dim `i % d`). Compared word-wise unsigned
    * ([[cmp]]).
    */
  def interleave(keys: Array[Long]): Array[Long] = {
    val d = keys.length
    val out = new Array[Long](d)
    var bit = 0
    var b = 63
    while (b >= 0) {
      var k = 0
      while (k < d) {
        out(bit >>> 6) |= ((keys(k) >>> b) & 1L) << (63 - (bit & 63))
        bit += 1
        k += 1
      }
      b -= 1
    }
    out
  }

  /** Morton key of a row over the z-columns at `idxs`. Short
    * (pre-ALTER) rows read added columns as NULL, matching every
    * other cluster-key extraction.
    */
  def key(r: Row, idxs: Array[Int]): Array[Long] =
    interleave(idxs.map(i => dimKey(if (i >= r.size || r.isNullAt(i)) null else r.get(i))))

  /** [[key]] with per-dimension key functions ([[keyFns]] — the
    * version-aware dispatch every store sort/merge routes through).
    */
  def key(r: Row, idxs: Array[Int], fns: Array[Any => Long]): Array[Long] =
    interleave(Array.tabulate(idxs.length) { d =>
      val i = idxs(d)
      fns(d)(if (i >= r.size || r.isNullAt(i)) null else r.get(i))
    })

  // ——— rank normalization (equi-depth per-dimension ranks) ———

  /** Ranks per dimension: 256 equi-depth buckets (8 bits), the
    * granularity Delta's OPTIMIZE ZORDER-style range ids use. Plenty
    * for block pruning (blocks are hundreds of rows) while keeping
    * boundary arrays tiny (≤255 longs per dim in table metadata).
    */
  val RankBits: Int = 8
  val NumRanks: Int = 1 << RankBits

  /** Equi-depth split points for ONE dimension, computed over the
    * dimension's [[dimKey]]s (unsigned order): ≤ NumRanks−1 distinct
    * boundaries, value v's rank = #boundaries unsigned-≤ dimKey(v).
    * Frozen per table at its first data commit ([[BucketStore]])
    * so the Morton order stays a pure function of the row — the
    * invariant every later append-merge and merge-on-read fold leans
    * on. At 100 TB this is the write-side sample pass that computes
    * range-partition ids; here the first commit's rows are the
    * sample.
    */
  def boundsOf(keys: Array[Long]): Array[Long] = {
    if (keys.isEmpty) return Array.empty
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    // unsigned order: java sort is signed — rotate by partitioning on
    // sign bit (negatives = top half unsigned)
    val (neg, pos) = sorted.partition(_ < 0)
    val u = pos ++ neg
    val out = Array.newBuilder[Long]
    var last = 0L
    var first = true
    var k = 1
    while (k < NumRanks) {
      val b = u(((k.toLong * u.length) / NumRanks).toInt - 1 max 0)
      if (first || java.lang.Long.compareUnsigned(b, last) > 0) { out += b; last = b; first = false }
      k += 1
    }
    out.result()
  }

  /** Rank of a raw dim key against frozen boundaries: the count of
    * boundaries unsigned-≤ raw (binary search), placed in the TOP
    * [[RankBits]] bits; the raw key's high bits fill the remainder so
    * rows within one rank slab still order by value (monotone overall:
    * rank is monotone in raw, and the filler only refines ties).
    */
  def rankKey(bounds: Array[Long], raw: Long): Long = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (java.lang.Long.compareUnsigned(bounds(m), raw) <= 0) lo = m + 1 else hi = m
    }
    (lo.toLong << (64 - RankBits)) | (raw >>> RankBits)
  }

  /** Rank-normalized Morton key: each dimension contributes an
    * equi-depth rank in its top bits, so a narrow dimension (16
    * distinct ids) and a wide one (microsecond timestamps) weigh
    * EQUALLY on the curve — without this, raw bit interleaving lets
    * the wide dimension dominate and the narrow one's locality
    * degrades toward a plain sort (the round-9 doc caveat this
    * removes).
    */
  def keyRanked(r: Row, idxs: Array[Int], bounds: Array[Array[Long]]): Array[Long] =
    interleave(Array.tabulate(idxs.length) { d =>
      val i = idxs(d)
      rankKey(bounds(d), dimKey(if (i >= r.size || r.isNullAt(i)) null else r.get(i)))
    })

  /** [[keyRanked]] with per-dimension key functions ([[keyFns]]). */
  def keyRanked(r: Row, idxs: Array[Int], bounds: Array[Array[Long]],
      fns: Array[Any => Long]): Array[Long] =
    interleave(Array.tabulate(idxs.length) { d =>
      val i = idxs(d)
      rankKey(bounds(d), fns(d)(if (i >= r.size || r.isNullAt(i)) null else r.get(i)))
    })

  /** Per-dimension frozen boundaries for a table's first data commit:
    * one [[boundsOf]] pass per z-column over the commit's rows.
    */
  def boundsForRows(rows: Iterator[Row], idxs: Array[Int]): Array[Array[Long]] =
    boundsForRows(rows, idxs, Array.fill[Any => Long](idxs.length)(dimKey))

  /** [[boundsForRows]] with per-dimension key functions ([[keyFns]]) —
    * rank boundaries must live in the SAME key space the sort uses.
    */
  def boundsForRows(rows: Iterator[Row], idxs: Array[Int],
      fns: Array[Any => Long]): Array[Array[Long]] = {
    val keys = Array.fill(idxs.length)(Array.newBuilder[Long])
    rows.foreach { r =>
      var d = 0
      while (d < idxs.length) {
        val i = idxs(d)
        keys(d) += fns(d)(if (i >= r.size || r.isNullAt(i)) null else r.get(i))
        d += 1
      }
    }
    keys.map(b => boundsOf(b.result()))
  }

  /** Unsigned lexicographic compare of Morton codes. */
  def cmp(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    while (i < a.length) {
      val c = java.lang.Long.compareUnsigned(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    0
  }
}
