package graft.sources.bucketed

import org.apache.spark.sql.Row

/** Byte-budgeted cache over FILE-BACKED blocks (round 16): the in-heap
  * row arrays are a cache over the parquet file set, and this is the
  * bound that makes that literally true — when the loaded bytes of
  * file-backed blocks exceed [[budgetBytes]], the least-recently-
  * touched blocks are evicted (their rows reload lazily on next
  * touch), so a scan of a larger-than-budget table completes in
  * bounded heap instead of accreting the whole table. Blocks are
  * charged at an ESTIMATED HEAP size (round 17): a 64-row sample of
  * the loaded array, with the row shells and unshared values
  * extrapolated and the values the chunk fill shares across rows charged
  * once ([[heapSizeEstimate]]) — so the budget bounds what it claims
  * to bound. File-size charging under-protected exactly when
  * compression was best (a heap-relative default charged in snappy'd
  * bytes); the heap estimate tracks the decoded arrays the budget
  * actually protects the JVM from.
  *
  * Heap-only blocks (no backing file — a fresh pre-publish commit or a
  * heap-only table) are not evictable and are not tracked. The
  * registry holds blocks WEAKLY so vacuumed/dropped snapshots age out
  * without bookkeeping. Enforcement is transiently overshootable by
  * the blocks concurrently mid-load (each loader's own block is exempt
  * while it enforces) — the bound is "budget + in-flight", which is
  * what any executor block manager promises too.
  */
object BlockCache {
  /** The global byte budget. Default: a quarter of the JVM heap —
    * roomy enough that test/bench tables never evict, real enough
    * that a larger-than-heap table cannot accrete. Specs/ops override.
    */
  @volatile var budgetBytes: Long = Runtime.getRuntime.maxMemory() / 4

  /** Evictions forced by the budget (spec hook). */
  val evictions = new java.util.concurrent.atomic.AtomicLong()

  private val tickGen = new java.util.concurrent.atomic.AtomicLong()
  private[bucketed] def tick(): Long = tickGen.incrementAndGet()

  // block → charged bytes; weak keys so dead snapshots' blocks age out
  private val loaded = new java.util.WeakHashMap[BucketBlock, Long]()

  /** Bytes currently charged for loaded file-backed blocks. */
  def loadedBytes: Long = loaded.synchronized {
    var s = 0L
    loaded.forEach((_, b) => s += b)
    s
  }

  private[bucketed] def charged(blk: BucketBlock, bytes: Long): Unit =
    loaded.synchronized {
      loaded.put(blk, bytes)
      enforce(blk)
    }

  private[bucketed] def released(blk: BucketBlock): Unit =
    loaded.synchronized { loaded.remove(blk); () }

  /** Evict least-recently-touched blocks (never `keep`) until under
    * budget. Called with the registry monitor held; eviction itself is
    * lock-free on the block (volatile null), so no lock ordering with
    * in-flight loads exists.
    */
  private def enforce(keep: BucketBlock): Unit = {
    var total = 0L
    loaded.forEach((_, b) => total += b)
    while (total > budgetBytes) {
      var victim: BucketBlock = null
      var victimBytes = 0L
      var oldest = Long.MaxValue
      loaded.forEach { (blk, b) =>
        if ((blk ne keep) && blk.isLoaded && blk.lastTouch < oldest) {
          oldest = blk.lastTouch; victim = blk; victimBytes = b
        }
      }
      if (victim == null) return // nothing evictable (all in-flight/kept)
      victim.evict() // re-enters released() — same thread, re-entrant monitor
      evictions.incrementAndGet()
      total -= victimBytes
    }
  }

  /** Estimated JVM heap footprint of a loaded row array, from a
    * 64-row sample (evenly strided). Plain `Row`s hold boxed values, so
    * the constants model object headers + boxing, not encoded widths —
    * intentionally a HEAP model, which is what the budget protects. A
    * [[RowView]] is charged as its shell plus its row's share of its
    * chunk's column arrays; only the values of its object columns are
    * sampled (reading a primitive cell would box a fresh object). The
    * chunk fill shares equal immutable values across rows
    * ([[ValueSharing]]), so a value INSTANCE that recurs within the
    * sample is charged once; the row shells and the instances seen once
    * are extrapolated to the array's length. Deterministic, so a
    * block's charge is stable across reloads.
    */
  private[bucketed] def heapSizeEstimate(rows: Array[Row]): Long = {
    if (rows.isEmpty) return 0L
    val sample = math.min(rows.length, 64)
    val step = math.max(1, rows.length / sample)
    // sampled value instance → whether it recurs within the sample
    val recurs = new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()
    def sampled(v: AnyRef): Unit =
      if (v != null) recurs.put(v, java.lang.Boolean.valueOf(recurs.containsKey(v)))
    var perRow = 0.0
    var n = 0
    var i = 0
    while (i < rows.length && n < sample) {
      rows(i) match {
        case v: RowView =>
          perRow += v.fixedBytes
          var j = 0
          while (j < v.length) { sampled(v.storedRef(j)); j += 1 }
        case r =>
          perRow += rowShellBytes(r)
          var j = 0
          while (j < r.length) {
            if (!r.isNullAt(j)) sampled(r.get(j).asInstanceOf[AnyRef])
            j += 1
          }
      }
      n += 1; i += step
    }
    var shared = 0L
    recurs.forEach { (v, again) =>
      if (again) shared += valueBytes(v) else perRow += valueBytes(v)
    }
    math.round(perRow / n * rows.length) + shared
  }

  // GenericRow + its value ref array
  private def rowShellBytes(r: Row): Long = 32L + 8L * r.length

  private def rowBytes(r: Row): Long = {
    var b = rowShellBytes(r)
    var j = 0
    while (j < r.length) {
      if (!r.isNullAt(j)) b += valueBytes(r.get(j))
      j += 1
    }
    b
  }

  private def valueBytes(v: Any): Long = v match {
    case s: String => 48L + s.length.toLong // String header + compact byte[]
    case _: java.lang.Long | _: java.lang.Double => 24L
    case _: java.lang.Integer | _: java.lang.Float | _: java.lang.Short |
         _: java.lang.Byte | _: java.lang.Boolean => 16L
    case _: java.sql.Timestamp | _: java.sql.Date => 32L
    case _: java.time.LocalDateTime | _: java.time.Instant | _: java.time.LocalDate => 48L
    case _: java.math.BigDecimal => 80L
    case a: Array[Byte] => 16L + a.length
    case a: Array[_] =>
      if (a.length == 0) 16L
      else {
        var s = 0L
        var k = 0
        val probe = math.min(8, a.length)
        while (k < probe) { if (a(k) != null) s += valueBytes(a(k)); k += 1 }
        16L + 8L * a.length + s / probe * a.length
      }
    case q: scala.collection.Seq[_] =>
      if (q.isEmpty) 40L
      else {
        val probe = q.iterator.take(8).toList
        val per = probe.map(x => if (x == null) 0L else valueBytes(x)).sum / probe.length
        40L + 8L * q.length + per * q.length
      }
    case r: Row => rowBytes(r)
    case _ => 32L
  }
}

/** Fill-scoped value sharing. The store's one chunk fill
  * ([[ColumnChunk.Builder.fill]]) passes every value of an object column
  * through one of these, column by column, so equal values of an
  * immutable type become ONE instance across the rows it fills: every
  * bucket of one write task ([[BucketStaging]]; the serializer keeps
  * the sharing across the wire), or one block file
  * ([[FileStore.readBlock]]). Five distinct flag strings or ~2.5k
  * ship dates then cost one object each, not one per row. (Primitive
  * columns hold no objects: they fill a [[ColumnChunk]]'s typed
  * arrays.)
  *
  * Shared: `String`, `LocalDateTime`, `LocalDate`, `Instant` and
  * `java.math.BigDecimal` (its `equals` tells `1.0` from `1.00`). The
  * mutable `java.sql.Timestamp`, `java.sql.Date` and `Array[Byte]`
  * values, nested values and boxed numbers are never shared. A column
  * whose dictionary passes [[ValueSharing.MaxEntries]] stops sharing for
  * the rest of the fill, so high-cardinality keys pay only a short
  * probe. Nothing outlives the fill: no global state, no lock.
  */
private[bucketed] final class ValueSharing(arity: Int) {
  private val dicts = Array.fill(arity)(new java.util.HashMap[AnyRef, AnyRef]())

  /** `v`, or the equal instance column `col` already holds. */
  def apply(col: Int, v: Any): Any = {
    val dict = dicts(col)
    if (dict == null || !ValueSharing.shareable(v)) v
    else {
      val x = v.asInstanceOf[AnyRef]
      val prior = dict.putIfAbsent(x, x)
      if (prior != null) prior
      else {
        if (dict.size > ValueSharing.MaxEntries) dicts(col) = null
        x
      }
    }
  }
}

private[bucketed] object ValueSharing {
  /** Distinct values one column may collect before it stops sharing. */
  val MaxEntries = 4096

  private def shareable(v: Any): Boolean = v match {
    case _: String | _: java.math.BigDecimal |
         _: java.time.LocalDateTime | _: java.time.LocalDate | _: java.time.Instant => true
    case _ => false
  }
}

/** One bucket's base payload: in-heap rows, optionally backed by an
  * immutable parquet file ([[FileStore]]). The block is the unit of
  * copy-on-write sharing across MVCC snapshots — an untouched bucket
  * republishes the SAME block (or at least the same row array, which
  * the spill path resolves to the same file by identity), so a
  * version's storage cost is ∝ changed buckets at FILE granularity,
  * exactly the manifest discipline Iceberg/Delta commits use.
  *
  * States:
  *   - loaded, unspilled: `mem` set, `file` None (a fresh commit before
  *     its publish spills it — or a heap-only table);
  *   - loaded + spilled: both set (the steady state after publish);
  *   - evicted: `mem` null, `file` set — [[rows]] lazily re-reads the
  *     parquet file (and re-caches), so a scan task pays I/O for
  *     exactly the buckets it opens. This is the state every block of
  *     a table opened from disk ([[BucketStore.openFromDisk]]) starts
  *     in: the driver holds file REFERENCES, never the table.
  *
  * A decoded block's rows are [[RowView]]s of one [[ColumnChunk]]
  * (a write task makes one chunk per bucket, [[FileStore.readBlock]]
  * one per file). A view pins its chunk: the chunk lives while any
  * view of it lives, so a block that a commit built from some rows of
  * an older block keeps that block's whole chunk reachable even after
  * the older block is evicted or dropped. Values of object columns may
  * be shared with other rows, of this block and of others filled by
  * the same write task ([[ValueSharing]]). Stored rows and their values
  * are never mutated; a commit builds new rows.
  */
final class BucketBlock private (
    @volatile private var mem: Array[Row],
    @volatile private var fileRef: FileStore.BlockFile) {

  /** Last [[BlockCache.tick]] at which a reader touched this block —
    * the LRU recency the budget enforcer evicts by.
    */
  @volatile private[bucketed] var lastTouch: Long = 0L

  /** The block's rows, loading (and caching) from the backing file if
    * evicted. The cached array keeps one identity until the next
    * evict, so identity-keyed caches ([[BucketSkip]], the COW spill
    * cache) compose with lazy loading. Returns the loaded array by
    * LOCAL reference — a concurrent budget eviction nulling `mem`
    * never yields a null to the caller.
    */
  def rows: Array[Row] = {
    val m = mem
    if (m != null) { lastTouch = BlockCache.tick(); m }
    else synchronized {
      var m2 = mem
      if (m2 == null) {
        m2 = FileStore.readBlock(fileRef)
        // re-seed the COW spill cache: a later publish sharing this
        // reloaded array must resolve to the SAME file, not rewrite it
        FileStore.rememberSpill(m2, fileRef)
        mem = m2
        lastTouch = BlockCache.tick()
        chargeToCache()
      } else lastTouch = BlockCache.tick()
      m2
    }
  }

  /** Register with the byte-budgeted cache (file-backed + loaded only),
    * charged at the loaded array's ESTIMATED heap size — what the
    * budget actually bounds. The estimate is a one-time 64-row sample
    * at charge time (O(sample × arity), amortized to nothing against
    * the load that just decoded the block).
    */
  private def chargeToCache(): Unit = {
    val f = fileRef
    val m = mem
    if (f != null && f.path.nonEmpty && m != null) {
      val bytes = BlockCache.heapSizeEstimate(m)
      if (bytes > 0L) BlockCache.charged(this, bytes)
    }
  }

  /** Row count without loading. */
  def rowCount: Int = {
    val m = mem
    if (m != null) m.length else fileRef.rows
  }

  def file: Option[FileStore.BlockFile] = Option(fileRef)

  def isLoaded: Boolean = mem != null

  /** The in-heap array if loaded, null otherwise — identity probes
    * that must not trigger a load.
    */
  private[bucketed] def memOrNull: Array[Row] = mem

  /** Attach the backing file at spill time. The in-heap rows are kept
    * verbatim (pre-ALTER short rows stay short — the zero-rewrite
    * contract); the file may hold them NULL-padded to the snapshot
    * schema, which reads back as the same logical rows. Attaching
    * makes the block evictable, so it enters the byte budget here.
    */
  private[bucketed] def attach(f: FileStore.BlockFile): Unit = {
    fileRef = f
    lastTouch = BlockCache.tick()
    chargeToCache()
  }

  /** Drop the in-heap rows (only legal once file-backed). Returns
    * whether anything was evicted.
    */
  def evict(): Boolean =
    if (fileRef != null && mem != null) {
      mem = null
      BlockCache.released(this)
      true
    } else false
}

object BucketBlock {
  def ofMem(rows: Array[Row]): BucketBlock = new BucketBlock(rows, null)
  def ofFile(f: FileStore.BlockFile): BucketBlock = new BucketBlock(null, f)
}

/** A table snapshot's buckets: an indexed collection of
  * [[BucketBlock]]s presenting the legacy `Array[Array[Row]]` surface
  * (`apply`/`length`/`indices`/iteration), so the store's operators
  * read `t.buckets(b)` unchanged while the substrate underneath can be
  * a parquet file set. `apply` forces a load of exactly that bucket;
  * paths that must NOT load (sharing probes, row counts, manifest
  * writing) go through [[block]]/[[rowCount]].
  */
final class BucketBlocks(private[bucketed] val blocks: Array[BucketBlock]) {

  def apply(b: Int): Array[Row] = blocks(b).rows

  def length: Int = blocks.length

  def indices: Range = blocks.indices

  def block(b: Int): BucketBlock = blocks(b)

  /** Per-bucket BASE row count (MOR state excluded), no loads. */
  def rowCount(b: Int): Int = blocks(b).rowCount

  def totalBaseRows: Long = {
    var s = 0L
    var b = 0
    while (b < blocks.length) { s += blocks(b).rowCount; b += 1 }
    s
  }

  def iterator: Iterator[Array[Row]] = blocks.iterator.map(_.rows)

  def flatten: Array[Row] = blocks.flatMap(_.rows)

  def forall(p: Array[Row] => Boolean): Boolean = blocks.forall(blk => p(blk.rows))

  def foreach[U](f: Array[Row] => U): Unit = blocks.foreach(blk => f(blk.rows))

  def map[T](f: Array[Row] => T)(implicit ct: scala.reflect.ClassTag[T]): Array[T] =
    blocks.map(blk => f(blk.rows))

  def zipWithIndex: Array[(Array[Row], Int)] =
    Array.tabulate(blocks.length)(b => (blocks(b).rows, b))

  /** COW rewrite: `f(b)` returns Some(newRows) for buckets this commit
    * replaces and None for untouched ones, which RETAIN their block
    * (same instance ⇒ same backing file in the next manifest, no load,
    * no rewrite) — the write-path discipline that makes an MVCC
    * version cost O(changed buckets) at file granularity.
    */
  def mapRetaining(f: Int => Option[Array[Row]]): BucketBlocks =
    new BucketBlocks(Array.tabulate(blocks.length) { b =>
      f(b) match {
        case Some(rows) => BucketBlock.ofMem(rows)
        case None => blocks(b)
      }
    })

  /** Does bucket `b` share storage with `other`'s bucket `b`? True on
    * block identity, same backing file, or same loaded array — all
    * checked WITHOUT loading either side.
    */
  def sharesWith(other: BucketBlocks, b: Int): Boolean = {
    if (b >= other.blocks.length) return false
    val a = blocks(b)
    val o = other.blocks(b)
    (a eq o) ||
      (a.file.isDefined && a.file == o.file) ||
      (a.memOrNull != null && (a.memOrNull eq o.memOrNull))
  }

  /** Blocks currently materialized in heap — spec hook for the
    * eviction/lazy-load story.
    */
  def loadedCount: Int = blocks.count(_.isLoaded)
}

object BucketBlocks {
  /** The compatibility bridge: every existing construction site builds
    * an `Array[Array[Row]]`; the expected-type implicit wraps each
    * array in a fresh in-heap block. COW file identity still holds —
    * the publish spill resolves identical arrays to identical files
    * ([[FileStore.rememberSpill]]).
    */
  implicit def fromArrays(a: Array[Array[Row]]): BucketBlocks =
    new BucketBlocks(Array.tabulate(a.length)(i => BucketBlock.ofMem(a(i))))
}
