package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Per-bucket data skipping: min/max/null-count zone maps plus a
  * membership sketch (Bloom filter) per column, consulted at split
  * planning so buckets that provably contain no matching row are never
  * opened — the store-side analog of Parquet row-group statistics
  * (reference: the store prunes gets to owning buckets only for KEY
  * equality, SnappyDataConnectorHelper.scala:23-25; this extends
  * skipping to ANY pushed column).
  *
  * Why two structures: under the store's HASH bucket layout every
  * bucket samples the whole value distribution, so min/max zones
  * prune only out-of-range predicates (a date beyond ingestion, an id
  * past the high-water mark) — but the membership sketch is
  * layout-independent: a point lookup on a high-cardinality non-key
  * column (an id, a name, a URL) hashes to few buckets' sketches and
  * opens only those readers. Min/max earns its keep once a layout
  * correlates values with buckets (range partitioning, post-
  * `recluster` sorted runs feeding [[ClusterRange]]).
  *
  * Skipping is CONSERVATIVE by construction: the sketch has no false
  * negatives (a contained value always probes true), min/max bounds
  * use the column type's [[KeyOrder]], the order the row filter uses
  * (NaN-as-largest, exact mixed-width numerics), three-valued-logic
  * filters prune only when the predicate is definitely-not-true for
  * every row. A false positive merely opens a bucket whose rows the
  * row-level filter then drops — never wrong results.
  *
  * Lifecycle: statistics are built AT COMMIT for registered stat
  * columns — [[BucketStore.publish]] warms exactly the buckets whose
  * row array changed in that commit ([[warm]]), so planning finds them
  * ready and pays ZERO stat passes at plan time (spec-pinned via
  * [[buildCount]]). A column registers the first time a pushed filter
  * touches it ([[BucketSplits.plan]]) or explicitly via
  * `CALL graft.analyze`; that first touch is the one remaining lazy
  * build — the fallback, not the steady state. Stats are cached by
  * BUCKET-ARRAY IDENTITY — exactly the sharing the COW store already
  * has: an unchanged bucket keeps its row array across versions, so it
  * keeps its statistics; only rewritten buckets recompute, and
  * vacuumed arrays age out with their weak keys. At 100 TB the same
  * pass runs in the producer's write task (it holds the rows anyway)
  * and the results live in commit metadata; in this in-JVM stand-in
  * the driver holds the staged rows, so the pass lives at the publish
  * choke point — either way, cost ∝ changed buckets, never the table.
  *
  * Schema evolution: rows below the current arity (pre-ALTER stored
  * rows) read as NULL for the added columns, matching the fetch-path
  * padding ([[BucketStore.pad]]).
  */
object BucketSkip {

  /** Column statistics for one bucket. `min`/`max` are stored-type
    * values under the column's [[KeyOrder]]; null ⇔ the bucket has no
    * non-null value in the column. `bloom` null ⇔ the type is not
    * sketchable (exact-equality types: integrals, strings, and — from
    * round 19 — decimals, hashed value-canonically).
    */
  final case class ColSkip(
      rowCount: Int,
      nullCount: Int,
      min: Any,
      max: Any,
      bloom: java.util.BitSet,
      bloomBits: Int,
      // the [[sketchHash]] version the bloom's bits were SET with —
      // persisted with the sketch, because probing a sketch with a
      // newer hash than built it tests bits the build never set and
      // wrongly prunes (the same order-vs-comparator discipline as
      // ZOrder.KEY_VERSION, applied to hashes). v1 bailed (no bits,
      // no probe claim) on decimals whose unscaled exceeds 62 bits;
      // v2 hashes the full BigInteger, so FLBA-precision money
      // columns (p > 18) prune on equality too.
      hashV: Int = SketchHashV) {
    def nonNullCount: Int = rowCount - nullCount
  }

  /** Current [[sketchHash]] version, stamped into fresh sketches. */
  val SketchHashV: Int = 2

  /** rows-array identity → per-column stats (None caches "cannot skip
    * on this column"). WeakHashMap compares Java arrays by reference,
    * which IS the COW sharing key; weak keys let vacuumed versions'
    * arrays age out.
    */
  private val cache =
    new java.util.WeakHashMap[Array[Row], scala.collection.concurrent.TrieMap[String, Option[ColSkip]]]()

  /** (block-file path, column) → stats: the FILE-substrate twin of the
    * array-identity cache. Seeded at publish (commit metadata) and at
    * [[BucketStore.openFromDisk]] from the manifest, consulted by
    * [[BucketStore.skipStatParts]] BEFORE touching rows — so planning
    * prunes evicted blocks and freshly reopened tables with ZERO block
    * I/O, exactly the role parquet row-group footers play at 100 TB.
    */
  private val fileCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[ColSkip]]()

  private[bucketed] def fileStatsPut(path: String, c: String, s: Option[ColSkip]): Unit = {
    fileCache.put((path, c), s)
    ()
  }

  private[bucketed] def fileStatsGet(path: String, c: String): Option[Option[ColSkip]] =
    Option(fileCache.get((path, c)))

  /** Cached per-bucket column statistics — shared with
    * [[BucketedProcedures.Stats]] so observability reads the same
    * cached pass pruning uses (None ⇔ the type is not comparable).
    */
  private[bucketed] def statsFor(schema: StructType, rows: Array[Row], c: String): Option[ColSkip] = {
    val perCol = cache.synchronized {
      var e = cache.get(rows)
      if (e == null) { e = scala.collection.concurrent.TrieMap.empty; cache.put(rows, e) }
      e
    }
    perCol.getOrElseUpdate(c, build(schema, rows, c))
  }

  /** Full-column stat passes actually executed (cache misses) — the
    * spec hook that proves commit-time warming works: a pushed filter
    * planned after a write must not move this counter.
    */
  val buildCount = new java.util.concurrent.atomic.AtomicLong()

  /** Spec hooks: peek the (path, col) cache and run an array build —
    * the parity oracle for the streamed cold stat pass.
    */
  def fileStatsPeek(path: String, c: String): Option[Option[ColSkip]] = fileStatsGet(path, c)
  def statsOver(schema: StructType, rows: Array[Row], c: String): Option[ColSkip] =
    statsFor(schema, rows, c)

  /** Commit-time statistics build: compute (and cache) stats for
    * `cols` over one bucket's rows — called by [[BucketStore.publish]]
    * for every bucket whose array the commit replaced, with the
    * table's registered stat columns. Warms BOTH granularities: the
    * bucket-level stats plan-time pruning consults and the block-level
    * zone maps the fetch prunes with — the same discipline (cost ∝
    * changed buckets; at 100 TB both are row-group footers the
    * producer's write task emits).
    */
  private[bucketed] def warm(schema: StructType, rows: Array[Row], cols: Iterable[String]): Unit =
    cols.foreach { c =>
      if (schema.fieldNames.contains(c)) {
        statsFor(schema, rows, c)
        if (rows.length > BlockRows) {
          val slots = blockSlots(rows, c)
          (0 until slots.length).foreach(blockStats(schema, rows, slots, _, c))
        }
      }
    }

  /** Rows per zone-map block — the row-group stand-in. Fixed and
    * small so the pruning is observable at test scale; at 100 TB the
    * grid is the file format's (~128 MB row groups), not a constant.
    */
  val BlockRows: Int = 128

  /** One column's block stats, by block ordinal; a slot is null until
    * built. `Some(Seq(stats))` is stored ready for [[mayMatch]], so a
    * probe allocates nothing.
    */
  private type BlockSlots = java.util.concurrent.atomic.AtomicReferenceArray[Option[Seq[ColSkip]]]

  /** rows-array identity → column → block stats; same identity/weak-
    * key discipline as the bucket-level cache, so COW-shared buckets
    * keep their block maps across versions too.
    */
  private val blockCache =
    new java.util.WeakHashMap[Array[Row], java.util.concurrent.ConcurrentHashMap[String, BlockSlots]]()

  /** Block-granularity stat passes actually executed — the spec hook
    * proving commit-time warming covers the block grid as well.
    */
  val blockBuildCount = new java.util.concurrent.atomic.AtomicLong()

  /** One column's block stats in the block map of one rows array —
    * the map lookup is the only step under the cache's monitor.
    */
  private def blockSlots(rows: Array[Row], c: String): BlockSlots = {
    val map = blockCache.synchronized {
      var e = blockCache.get(rows)
      if (e == null) { e = new java.util.concurrent.ConcurrentHashMap(); blockCache.put(rows, e) }
      e
    }
    map.computeIfAbsent(c, _ => new BlockSlots((rows.length + BlockRows - 1) / BlockRows))
  }

  /** Block `block`'s stats for column `c`, built on first use. Two
    * threads may both build one slot; the first to store it wins.
    */
  private def blockStats(schema: StructType, rows: Array[Row], slots: BlockSlots, block: Int,
      c: String): Option[Seq[ColSkip]] = {
    val cached = if (block < slots.length) slots.get(block) else None
    if (cached != null) cached
    else {
      val from = block * BlockRows
      val until = math.min(rows.length, from + BlockRows)
      val built =
        if (from >= until || !hasField(schema, c)) None
        else {
          blockBuildCount.incrementAndGet()
          buildRange(schema, rows, from, until, c).map(Seq(_))
        }
      if (slots.compareAndSet(block, null, built)) built else slots.get(block)
    }
  }

  /** May any row of block `k` of this rows array satisfy every one of
    * `filters`? Same conservative contract as the bucket-level
    * [[mayMatch]]; consulted by [[HostConnection.fetchBucket]] so a
    * pruned block's pages never cross the (simulated) wire. The block
    * maps of the filters' columns are resolved once, here, so a probe
    * takes no monitor and allocates no key. One probe serves one
    * thread.
    */
  def blockProbe(schema: StructType, rows: Array[Row], filters: Array[Filter]): Int => Boolean = {
    val cols = filters.flatMap(_.references).distinct
    val slots = cols.map(blockSlots(rows, _))
    var block = 0
    val statsOf: String => Option[Seq[ColSkip]] = c => {
      val k = cols.indexOf(c)
      if (k < 0) None else blockStats(schema, rows, slots(k), block, c)
    }
    val test: Filter => Boolean = mayMatch(schema, statsOf, _)
    k => { block = k; filters.forall(test) }
  }

  private def hasField(schema: StructType, c: String): Boolean = {
    val fs = schema.fields
    var i = 0
    while (i < fs.length && fs(i).name != c) i += 1
    i < fs.length
  }

  private def comparableType(dt: DataType): Boolean = dt match {
    // NTZ joined round 19 (its externals compare in KeyOrder and
    // round-trip in the manifest stat codec),
    // so z-clustering on an NTZ column prunes like any timestamp
    case _: NumericType | StringType | TimestampType | DateType | TimestampNTZType => true
    case _ => false
  }

  private def sketchableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    // round 19: point lookups on money columns (`dec = literal`) are
    // an id-like shape at TPC-H schemas — hash value-canonically so
    // representation scale never splits equal values
    case _: DecimalType => true
    case _ => false
  }

  private def build(schema: StructType, rows: Array[Row], c: String): Option[ColSkip] = {
    if (!comparableType(schema(schema.fieldIndex(c)).dataType)) return None
    buildCount.incrementAndGet()
    buildRange(schema, rows, 0, rows.length, c)
  }

  /** Stat pass over a STREAMED single-column projection of a cold
    * block file — the analyze path for a column with no committed
    * stats: exactly one column decodes and the block is never faulted
    * into the heap cache. `values` are 1-ary rows (the projected
    * column at index 0); `n` is the file's exact row count from the
    * manifest. Same formula, same loop, same [[KeyOrder]] order
    * as [[buildRange]] — the resulting ColSkip is value-identical to
    * the array build over the same data (spec-pinned), so committed
    * manifests agree regardless of which path produced them.
    */
  private[bucketed] def buildStreaming(field: org.apache.spark.sql.types.StructField,
      n: Int, values: Iterator[Row]): Option[ColSkip] = {
    if (!comparableType(field.dataType)) return None
    buildCount.incrementAndGet()
    val nbits =
      if (!sketchableType(field.dataType)) 0
      else math.min(1 << 22, math.max(64, Integer.highestOneBit(n * 8 - 1) << 1))
    val bloom = if (nbits > 0) new java.util.BitSet(nbits) else null
    val ord = KeyOrder.of(field.dataType)
    var nulls = 0
    var min: Any = null
    var max: Any = null
    var seen = 0
    while (values.hasNext) {
      val r = values.next()
      if (r.size < 1 || r.isNullAt(0)) nulls += 1
      else {
        val v = r.get(0)
        if (min == null || ord.compare(v, min) < 0) min = v
        if (max == null || ord.compare(v, max) > 0) max = v
        if (bloom != null) sketchHash(v).foreach(h => setBits(bloom, nbits, h))
      }
      seen += 1
    }
    // a missing column in a pre-ALTER file streams zero rows even
    // though the block has n: those rows read as NULL (the standing
    // pad contract)
    if (seen < n) nulls += n - seen
    Some(ColSkip(n, nulls, min, max, bloom, nbits))
  }

  /** One stat pass over rows[from, until) — the shared core of the
    * bucket-level and block-level builds.
    */
  private def buildRange(schema: StructType, rows: Array[Row], from: Int, until: Int,
      c: String): Option[ColSkip] = {
    val i = schema.fieldIndex(c)
    val dt = schema(i).dataType
    if (!comparableType(dt)) return None
    val n = until - from
    val nbits =
      if (!sketchableType(dt)) 0
      else math.min(1 << 22, math.max(64, Integer.highestOneBit(n * 8 - 1) << 1))
    val bloom = if (nbits > 0) new java.util.BitSet(nbits) else null
    val ord = KeyOrder.of(dt)
    var nulls = 0
    var min: Any = null
    var max: Any = null
    var j = from
    while (j < until) {
      val r = rows(j)
      // pre-ALTER stored rows are below the current arity: added
      // columns read as NULL (the fetch path pads identically)
      if (i >= r.size || r.isNullAt(i)) nulls += 1
      else {
        val v = r.get(i)
        if (min == null || ord.compare(v, min) < 0) min = v
        if (max == null || ord.compare(v, max) > 0) max = v
        if (bloom != null) sketchHash(v).foreach(h => setBits(bloom, nbits, h))
      }
      j += 1
    }
    Some(ColSkip(n, nulls, min, max, bloom, nbits))
  }

  /** Canonical 64-bit hash for sketchable values: every integral width
    * hashes as its Long value (so a pushed Int literal probes an
    * Int-or-Long column identically); strings hash FNV-1a. None for
    * anything else — the probe then falls back to min/max only.
    */
  private def sketchHash(v: Any): Option[Long] = sketchHash(v, SketchHashV)

  private def sketchHash(v: Any, hashV: Int): Option[Long] = v match {
    case x: Long => Some(mix64(x))
    case x: Int => Some(mix64(x.toLong))
    case x: Short => Some(mix64(x.toLong))
    case x: Byte => Some(mix64(x.toLong))
    case x: String =>
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < x.length) { h ^= x.charAt(j); h *= 0x100000001b3L; j += 1 }
      Some(mix64(h))
    case x: java.math.BigDecimal => decimalHash(x, hashV)
    case x: scala.math.BigDecimal => decimalHash(x.bigDecimal, hashV)
    case _ => None
  }

  /** VALUE-canonical decimal hash: [[KeyOrder]]-equal decimals
    * (scale-insensitive) must hash identically whatever scale their
    * representation carries — strip trailing zeros, then hash the
    * (unscaled, scale) pair. Compact unscaled values mix the long
    * directly (unchanged since v1); past 62 bits, v1 bailed (None —
    * no bits set at build, no claim at probe; min/max still bound)
    * while v2 FNV-hashes the full two's-complement magnitude bytes,
    * giving FLBA-precision decimals (p > 18) bucket-level equality
    * pruning too. A v1-built sketch is only ever probed with v1
    * hashes (the persisted `hashV` gates it), so the bits tested are
    * exactly the bits built.
    */
  private def decimalHash(x0: java.math.BigDecimal, hashV: Int): Option[Long] = {
    val x = x0.stripTrailingZeros()
    val u = x.unscaledValue()
    if (u.bitLength() <= 62) Some(mix64(u.longValue() ^ mix64(x.scale().toLong)))
    else if (hashV < 2) None
    else {
      val bytes = u.toByteArray
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < bytes.length) { h ^= bytes(j) & 0xffL; h *= 0x100000001b3L; j += 1 }
      Some(mix64(h ^ mix64(x.scale().toLong)))
    }
  }

  private def mix64(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def setBits(bs: java.util.BitSet, nbits: Int, h: Long): Unit = {
    bs.set(((h & Long.MaxValue) % nbits).toInt)
    bs.set((((h >>> 21) & Long.MaxValue) % nbits).toInt)
  }

  private def testBits(bs: java.util.BitSet, nbits: Int, h: Long): Boolean =
    bs.get(((h & Long.MaxValue) % nbits).toInt) &&
      bs.get((((h >>> 21) & Long.MaxValue) % nbits).toInt)

  /** May ANY row of this bucket satisfy `f`? True = must open the
    * bucket; false = provably empty result, skip it. Unknown filter
    * shapes and missing statistics answer true (no skip, never wrong).
    *
    * Statistics arrive as PARTS (`statsOf`): a clean bucket is one
    * part; a merge-on-read bucket is base + delta, composed by
    * disjunction — the bucket may match iff ANY part may — so pruning
    * never materializes the fold ([[BucketStore.skipStatParts]]).
    * `None` = no statistics for the column, no skip.
    */
  def mayMatch(schema: StructType, statsOf: String => Option[Seq[ColSkip]],
      f: Filter): Boolean = {
    def stats(c: String): Option[Seq[ColSkip]] =
      if (!hasField(schema, c)) None else statsOf(c)
    def ord(c: String): Ordering[Any] = KeyOrder.of(schema(c).dataType)
    def eqOne(c: String, s: ColSkip, v: Any): Boolean =
      if (v == null || s.min == null) false
      else if (ord(c).compare(s.min, v) > 0 || ord(c).compare(s.max, v) < 0) false
      else s.bloom == null ||
        sketchHash(v, s.hashV).forall(testBits(s.bloom, s.bloomBits, _))
    def eqMay(c: String, v: Any): Boolean = stats(c).forall(_.exists(eqOne(c, _, v)))
    // exists non-null value with pred(compare(value, v)): the witness
    // is max for >-shaped predicates, min for <-shaped ones
    def boundMay(c: String, v: Any, useMax: Boolean, pred: Int => Boolean): Boolean =
      stats(c).forall(_.exists(s => s.min != null &&
        pred(ord(c).compare(if (useMax) s.max else s.min, v))))
    def go(f: Filter): Boolean = f match {
      case EqualTo(c, v) => eqMay(c, v)
      case EqualNullSafe(c, null) => stats(c).forall(_.exists(_.nullCount > 0))
      case EqualNullSafe(c, v) => eqMay(c, v)
      case In(c, vs) => stats(c) match {
        case None => true
        case Some(parts) => vs != null && vs.exists(v => parts.exists(eqOne(c, _, v)))
      }
      case GreaterThan(c, v) => boundMay(c, v, useMax = true, _ > 0)
      case GreaterThanOrEqual(c, v) => boundMay(c, v, useMax = true, _ >= 0)
      case LessThan(c, v) => boundMay(c, v, useMax = false, _ < 0)
      case LessThanOrEqual(c, v) => boundMay(c, v, useMax = false, _ <= 0)
      case IsNull(c) => stats(c).forall(_.exists(_.nullCount > 0))
      case IsNotNull(c) => stats(c).forall(_.exists(_.nonNullCount > 0))
      case AlwaysFalse() => false
      case And(l, r) => go(l) && go(r)
      case Or(l, r) => go(l) || go(r)
      // Not / string matchers / AlwaysTrue / unknown: no skip
      case _ => true
    }
    go(f)
  }

  /** Single-array convenience (clean buckets, specs, properties). */
  def mayMatch(schema: StructType, rows: Array[Row], f: Filter): Boolean =
    mayMatch(schema, (c: String) => statsFor(schema, rows, c).map(Seq(_)), f)

  /** Does EVERY row of this bucket definitely satisfy `f`? The dual of
    * [[mayMatch]], consulted by the statistics-driven DELETE
    * ([[BucketStore.deleteWhereFiltered]]): a bucket this proves
    * fully-covered is dropped WHOLE — no row is ever evaluated — which
    * is what turns a retention delete (`ts < cutoff` on a range/
    * clustered layout) from a table scan into a manifest edit at
    * 100 TB (Iceberg's metadata-delete; Delta's partition delete).
    *
    * Conservative in the opposite direction from [[mayMatch]]: true
    * only when the statistics PROVE the predicate holds for every row
    * (false = "cannot prove", never "does not hold"). SQL three-valued
    * logic makes NULL operands not-true, so every comparison proof
    * additionally requires a null-free column (`nullCount == 0`).
    * Bounds proofs use the same [[KeyOrder]] total order the
    * row-level filter uses — NaN-as-largest included — so a proof here
    * can never disagree with the pushed filter ([[VectorFilterEval]])
    * on any row.
    *
    * Parts compose by CONJUNCTION (every part must be fully covered —
    * base and merge-on-read delta alike); a statistics-over-physical-
    * rows proof covers the live subset a fortiori. `Or` proves via
    * either branch covering alone (sufficient, not necessary);
    * unknown shapes, missing statistics, and `Not` answer false.
    */
  def mustMatchAll(schema: StructType, statsOf: String => Option[Seq[ColSkip]],
      f: Filter): Boolean = {
    def stats(c: String): Option[Seq[ColSkip]] =
      if (!hasField(schema, c)) None else statsOf(c)
    def ord(c: String): Ordering[Any] = KeyOrder.of(schema(c).dataType)
    def all(so: Option[Seq[ColSkip]])(p: ColSkip => Boolean): Boolean =
      so.exists(_.forall(s => s.rowCount == 0 || p(s)))
    def bound(c: String, v: Any, useMin: Boolean, pred: Int => Boolean): Boolean =
      v != null && all(stats(c))(s => s.nullCount == 0 && s.min != null &&
        pred(ord(c).compare(if (useMin) s.min else s.max, v)))
    def go(f: Filter): Boolean = f match {
      case EqualTo(c, v) => v != null && all(stats(c))(s => s.nullCount == 0 &&
        s.min != null && ord(c).compare(s.min, v) == 0 && ord(c).compare(s.max, v) == 0)
      case EqualNullSafe(c, null) => all(stats(c))(s => s.nullCount == s.rowCount)
      case EqualNullSafe(c, v) => go(EqualTo(c, v))
      // every non-null value > v ⇔ min > v (the order is total; NaN largest)
      case GreaterThan(c, v) => bound(c, v, useMin = true, _ > 0)
      case GreaterThanOrEqual(c, v) => bound(c, v, useMin = true, _ >= 0)
      case LessThan(c, v) => bound(c, v, useMin = false, _ < 0)
      case LessThanOrEqual(c, v) => bound(c, v, useMin = false, _ <= 0)
      case IsNull(c) => all(stats(c))(s => s.nullCount == s.rowCount)
      case IsNotNull(c) => all(stats(c))(_.nullCount == 0)
      case In(c, vs) => vs != null && vs.exists(v => go(EqualTo(c, v)))
      case AlwaysTrue() => true
      case And(l, r) => go(l) && go(r)
      case Or(l, r) => go(l) || go(r)
      // Not / string matchers / AlwaysFalse / unknown: not provable
      case _ => false
    }
    go(f)
  }

  /** Single-array convenience (specs, properties). */
  def mustMatchAll(schema: StructType, rows: Array[Row], f: Filter): Boolean =
    mustMatchAll(schema, (c: String) => statsFor(schema, rows, c).map(Seq(_)), f)
}
