package graft.sources.bucketed

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** In-JVM model of an external bucket-partitioned row store — the
  * stand-in for the reference's SnappyData server cluster
  * (SnappydataJdbcUtil.scala:21-33 discovers bucket→server topology;
  * SnappyDataConnectorHelper.scala:142-197 builds one split per
  * bucket with per-bucket server URLs).
  *
  * The store holds, per table: the schema, `numBuckets` row buckets
  * (hash of the partitioning key, like the server's hash-partitioned
  * region), a synthetic bucket→host mapping, and a monotonically
  * increasing version (the analog of the reference's
  * relation-destroy-version snapshot check,
  * SnappydataJdbcUtil.scala:92). In production the store is a remote
  * system and [[BucketedPartitionReader]] would open a pooled
  * connection to the owning host; the DSv2 plumbing — topology
  * discovery at planning, per-bucket InputPartitions, locality hints,
  * filter/column pushdown — is identical and is the part that must
  * scale.
  *
  * MVCC (round 7): every publish (load, write commit, DELETE,
  * row-level replace) appends a new snapshot to a bounded per-table
  * history instead of discarding the old one. A scan that pinned
  * version v at planning reads EXACTLY v even if the table republishes
  * mid-scan — snapshot isolation, not the reference's
  * fail-on-any-drift check (SnappyDataConnectorHelper.scala:97-118,
  * which aborts the query). History is capped at [[RetainedVersions]]
  * snapshots (oldest auto-vacuumed on publish) and can be trimmed
  * explicitly with [[vacuum]]; reading a vacuumed version fails loudly
  * with the retained range. Unchanged buckets SHARE row arrays across
  * versions (copy-on-write publishes replace only touched buckets), so
  * retention costs O(changed buckets), not O(table × versions) — the
  * same reason a real store can keep an MVCC window at 100 TB.
  */
object BucketStore {

  /** `clusterCol`: when set, every bucket's rows are kept SORTED on
    * this column (nulls first) across all publishes — the clustered-
    * index layout that lets the fetch path serve a range predicate by
    * binary-searching the qualifying slice instead of streaming the
    * bucket (see [[HostConnection.fetchBucket]] / [[ClusterRange]]).
    * A COMPOUND key is a comma-separated list (`"tenant,ts"` — the
    * TBLPROPERTIES string form Delta/Iceberg use): order is sort
    * significance, rows sort lexicographically, and the composite-
    * index prefix rule governs which predicates slice
    * ([[ClusterRange.compoundFrom]]).
    */
  /** `rangeBounds`: when set (length = buckets−1, sorted), the table
    * is RANGE-partitioned on the key instead of hash-partitioned —
    * bucket b owns v iff v ≤ bounds(b) and bounds(b−1) < v (nulls →
    * bucket 0; the last bucket is unbounded above). Every writer and
    * pruner must route through [[routeBucket]], never the hash
    * directly.
    */
  /** `layoutEpoch`: bumped by every bucket-ASSIGNMENT change (rebucket,
    * repartition_range) — the marker CDC uses to refuse windows whose
    * per-bucket diffs would compare different layouts (a same-count
    * layout change is invisible to the bucket-count check alone).
    */
  /** `mor`: merge-on-read DML state, sparse by bucket — a point
    * DELETE/UPDATE commits a deletion vector + delta rows instead of
    * copy-on-write rewriting the owning bucket array; every read path
    * folds it through [[folded]] (the store's single fetch choke
    * point), and [[compact]]/any bucket rewrite folds it back into a
    * clean array. Positions are PHYSICAL: index into the base array,
    * then `base.length + i` for delta row i — stable across MOR
    * commits (delta is append-only), reset only by a materializing
    * rewrite, which is why [[applyDelta]] pins the snapshot version.
    */
  final case class BucketTable(
      schema: StructType,
      keyCol: String,
      buckets: BucketBlocks,
      hosts: Array[Seq[String]],
      version: Long,
      clusterCol: Option[String] = None,
      commitTs: Long = 0L,
      rangeBounds: Option[Array[Any]] = None,
      layoutEpoch: Long = 0L,
      mor: Map[Int, BucketMor] = Map.empty,
      // REPLICATED layout (reference: replicated tables served as ONE
      // split listing every server URL, SnappyDataConnectorHelper
      // .scala:199-213): one logical bucket materialized on every
      // host — any server answers, so the scan is a single partition
      // whose preferred locations are the whole fleet, and as the dim
      // side of a join it broadcasts without ever shuffling the fact
      replicated: Boolean = false,
      // Frozen per-dimension equi-depth boundaries for a zorder(...)
      // layout ([[ZOrder.boundsOf]]), computed once at the table's
      // FIRST data commit and never changed (recluster excepted):
      // the Morton order must be a pure function of the row for
      // append-merges and merge-on-read folds to stay consistent
      // with the stored sort. None = no data committed yet (or a
      // non-z layout).
      zBounds: Option[Array[Array[Long]]] = None,
      // HRW (rendezvous / highest-random-weight) bucket assignment:
      // key k lives in argmax_b score(hash(k), b) instead of
      // pmod(hash(k), n). The operational win is RESIZE stability
      // (the q229 analysis, wired into the store): growing n → m
      // moves ONLY keys whose winner among m is a NEW bucket —
      // E[moved] = 1 − n/m of rows — where mod-rehash moves ~1 − 1/m
      // of everything. The cost is that Spark's bucket transform no
      // longer describes the layout, so HRW tables report unknown
      // partitioning (no storage-partitioned joins) — the documented
      // trade: choose HRW for tables that resize under continuous
      // ingest, mod-hash for tables that co-partition with others.
      hrw: Boolean = false,
      // The z-layout KEY-FUNCTION version the stored sort order was
      // built with ([[ZOrder.KEY_VERSION]] — the per-dimension key
      // maps have changed across releases). Every sort, merge, and
      // fold on this table keys with THIS version so stored order and
      // comparator never diverge; a full re-sort (recluster/reorder)
      // upgrades it to current. Irrelevant (and harmlessly current)
      // for non-z layouts.
      zKeyVersion: Int = ZOrder.KEY_VERSION)

  /** One bucket's pending merge-on-read state: `deleted` marks hidden
    * physical positions (over base ++ delta), `delta` the rows added
    * since the bucket's last materialization. At 100 TB this pair is
    * the Iceberg/Delta position-delete + data-delta file pair; a
    * 1-row DELETE publishes O(1) bits, never an O(bucket) rewrite.
    */
  final case class BucketMor(deleted: java.util.BitSet, delta: Array[Row]) {
    def liveCount(baseLen: Int): Int = baseLen + delta.length - deleted.cardinality()

    /** The live delta rows in delta order, NULL-padded to `arity` (a
      * delta row written before an ADD COLUMN is short). Delta row `j`
      * is deleted when bit `baseLen + j` is set, the positions
      * [[BucketStore.folded]] gives it.
      */
    def liveDelta(baseLen: Int, arity: Int): Iterator[Row] =
      delta.indices.iterator.filter(j => !deleted.get(baseLen + j)).map(j => pad(delta(j), arity))
  }

  /** A folded (read-time materialized) bucket: `rows` are the live
    * rows in serving order (cluster order when the table is
    * clustered); `pos` maps each served row to its PHYSICAL position
    * (null ⇔ identity — the clean-bucket fast path, no allocation).
    */
  final case class FoldedBucket(rows: Array[Row], pos: Array[Int]) {
    def posOf(i: Int): Int = if (pos == null) i else pos(i)
  }

  // — FILE SUBSTRATE (round 15): when enabled, every publish spills its
  //   CHANGED buckets to immutable parquet files and writes a JSON
  //   manifest per version ([[FileStore]]) — a snapshot IS a manifest of
  //   file references, untouched buckets re-reference the previous
  //   version's files (COW at file granularity), tables reopen in a
  //   fresh JVM from the directory alone ([[openFromDisk]]), and blocks
  //   evict/re-load lazily ([[evictTable]], [[BucketBlock.rows]]) so
  //   serving never requires the whole table in heap. The in-heap
  //   arrays become a CACHE over the file set instead of the substrate.
  @volatile var fileBackingEnabled: Boolean = true

  /** Where table directories live; override in specs for a durable
    * location (default: one temp root per JVM).
    */
  @volatile var storageRootOverride: Option[java.nio.file.Path] = None
  private lazy val defaultStorageRoot =
    java.nio.file.Files.createTempDirectory("graft-bucket-store-")
  def storageRoot: java.nio.file.Path = storageRootOverride.getOrElse(defaultStorageRoot)

  /** Tables that fell back to heap-only (a schema the parquet spill
    * cannot express, e.g. NullType) — the spill degrades loudly-logged
    * rather than failing the commit.
    */
  private val heapOnly = ConcurrentHashMap.newKeySet[String]()

  /** Each table's directory, pinned at first publish (stable even if
    * the root override changes mid-life).
    */
  private val tableDirs = new ConcurrentHashMap[String, java.nio.file.Path]()

  def isFileBacked(name: String): Boolean =
    fileBackingEnabled && !heapOnly.contains(name) && tableDirs.containsKey(name)

  def tableDir(name: String): java.nio.file.Path =
    tableDirs.computeIfAbsent(name, n => {
      val safe = n.replaceAll("[^A-Za-z0-9._-]", "_").take(80)
      storageRoot.resolve(
        safe + "-" + Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(n)))
    })

  /** Retained snapshots per table, oldest → newest; `.last` is current. */
  private val tables = new ConcurrentHashMap[String, Vector[BucketTable]]()
  private val versions = new java.util.concurrent.atomic.AtomicLong()

  /** Each table's FIRST version ever published (survives vacuum; the
    * version counter is global, so without this a CDC window below a
    * table's creation version would be indistinguishable from a
    * vacuumed one).
    */
  private val firstVersions = new ConcurrentHashMap[String, java.lang.Long]()

  /** MVCC retention window: snapshots kept per table. Old enough for
    * any in-flight scan or CDC replay at test scale; a real store
    * would bound this by time + active-transaction watermark.
    */
  val RetainedVersions: Int = 32

  /** Synthetic cluster: `nHosts` servers, buckets assigned round-robin
    * with one replica (mirrors the primary/secondary lists parsed in
    * SnappyDataConnectorHelper.scala:156-197).
    */
  def hostsFor(bucket: Int, nHosts: Int): Seq[String] =
    Seq(s"host-${bucket % nHosts}", s"host-${(bucket + 1) % nHosts}")

  /** The whole synthetic fleet — a replicated table's single bucket
    * lives on every one of these.
    */
  def fleetOf(nHosts: Int): Seq[String] = (0 until nHosts).map(i => s"host-$i")

  /** Append `next` to `name`'s history under the retention cap. All
    * version publishes funnel through here (single synchronized
    * choke point = the store's commit protocol).
    */
  /** Commit-timestamp source (micros since epoch), injectable so specs
    * and gated queries stay deterministic. Stamps are forced STRICTLY
    * increasing across the store (`max(clock, last+1)`) so timestamp
    * order == version order and `TIMESTAMP AS OF ts(v)` resolves
    * exactly v even when publishes land in the same clock tick.
    */
  @volatile var clock: () => Long = () => System.currentTimeMillis() * 1000L
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextStamp(): Long = {
    val c = clock()
    lastStamp.updateAndGet(prev => math.max(prev + 1, c))
  }

  private def publish(name: String, next: BucketTable): Unit = {
    val stamped = next.copy(commitTs = nextStamp())
    val hist = tables.getOrDefault(name, Vector.empty)
    firstVersions.putIfAbsent(name, stamped.version)
    val prev = hist.lastOption
    spillAndManifest(name, stamped, prev)
    val newHist = (hist :+ stamped).takeRight(RetainedVersions)
    tables.put(name, newHist)
    // disk retention follows heap retention: when this publish trimmed
    // a version out of the MVCC window, drop the files no retained
    // manifest references — roots are the UNION of every lineage
    // sharing the directory (a base table and its WAP branches)
    if (hist.length + 1 > RetainedVersions && isFileBacked(name)) {
      val dir = tableDir(name)
      // automatic GC honors the directory's strictest retention floor
      FileStore.gc(dir, retainedVersionsSharing(dir),
        math.max(vacuumFloorOf(name), floorSharing(dir, except = name))): Unit
    }
    // commit-time statistics: warm zone maps/sketches for exactly the
    // buckets this commit REPLACED (storage-shared buckets — same
    // block, file, or array — keep their cached stats), for the
    // table's registered stat columns — so a later pushed filter
    // prunes with ZERO plan-time stat passes. At 100 TB this pass runs
    // in the producer's write task and lands in commit metadata; the
    // cost discipline is identical: ∝ changed buckets, never the table.
    val cols = statColumns.getOrDefault(name, Set.empty)
    if (cols.nonEmpty) {
      stamped.buckets.indices.foreach { b =>
        val shared = prev.exists(p => stamped.buckets.sharesWith(p.buckets, b))
        if (!shared) BucketSkip.warm(stamped.schema, stamped.buckets(b), cols)
        // MOR commits: warm the (small) delta arrays too — planning
        // composes base ∪ delta stats without folding ([[skipStatParts]]),
        // so a delta commit costs O(delta) stat work, never O(bucket)
        stamped.mor.get(b).foreach { m =>
          val sharedDelta = prev.exists(_.mor.get(b).exists(_.delta eq m.delta))
          if (!sharedDelta && m.delta.nonEmpty) BucketSkip.warm(stamped.schema, m.delta, cols)
        }
      }
    }
  }

  /** The file-substrate half of a publish: write parquet blocks for
    * exactly the buckets this commit changed (blocks already carrying a
    * file ref — retained via [[BucketBlocks.mapRetaining]] or resolved
    * by row-array identity — re-reference their existing file), spill
    * changed MOR deltas, and write the version's manifest. A spill
    * failure (a schema parquet cannot express) degrades the TABLE to
    * heap-only with a stderr note — never fails the commit.
    */
  private def spillAndManifest(name: String, stamped: BucketTable,
      prev: Option[BucketTable], replaceCurrent: Boolean = false): Unit = {
    if (!fileBackingEnabled || heapOnly.contains(name)) return
    try {
      val dir = tableDir(name)
      // CROSS-PROCESS conflict pre-flight (the in-JVM path is already
      // serialized by the commit monitor): a manifest at or past this
      // commit's version means another PROCESS committed to this
      // directory since our state was read. Seed the version counter
      // past the directory head so the retry allocates a winning
      // version, and surface the loser on the standard
      // optimistic-concurrency path. The manifest write itself is the
      // CAS backstop for the list-then-write window
      // ([[FileStore.writeManifest]] fails on an existing target).
      // replaceCurrent (analyze's in-place stats rewrite) compares
      // against THIS lineage's head only: versions are globally unique
      // across lineages sharing the directory, so a WAP branch always
      // holds base-head+1 right after its fork — a lineage-blind max
      // would make the base table's analyze a deterministic,
      // unretryable conflict. Ordinary publishes keep the filename max
      // (cheapest listing; any manifest at/past our version means our
      // counter is stale regardless of lineage).
      val dirHead =
        if (replaceCurrent) FileStore.maxManifestVersionOf(dir, name)
        else FileStore.maxManifestVersion(dir)
      if (if (replaceCurrent) dirHead > stamped.version else dirHead >= stamped.version) {
        versions.updateAndGet(v => math.max(v, dirHead))
        // absorb the foreign commits NOW so the loser's plain retry
        // re-plans against the new head (refresh-and-retry)
        refreshFromDisk(name): Unit
        throw new ConcurrentWriteException(
          s"commit of '$name' v${stamped.version} lost to a concurrent writer: the " +
            s"directory already holds manifest v$dirHead — retry against the new head")
      }
      // changed buckets spill their (independent, immutable) files in
      // parallel — the commit-point analog of concurrent write tasks;
      // a single changed bucket skips the pool round-trip
      val toSpill = stamped.buckets.indices.filter(stamped.buckets.block(_).file.isEmpty)
      if (toSpill.length <= 1) {
        toSpill.foreach { b =>
          val blk = stamped.buckets.block(b)
          blk.attach(FileStore.spillBlock(dir, s"b$b-v${stamped.version}",
            stamped.schema, blk.rows))
        }
      } else {
        val futures = toSpill.map { b =>
          FileStore.spillPool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val blk = stamped.buckets.block(b)
              blk.attach(FileStore.spillBlock(dir, s"b$b-v${stamped.version}",
                stamped.schema, blk.rows))
            }
          })
        }
        futures.foreach(_.get()) // propagate the FIRST failure loudly
      }
      val morFiles: Map[Int, FileStore.BlockFile] = stamped.mor.map { case (b, m) =>
        b -> (if (m.delta.isEmpty) FileStore.EmptyBlock
        else FileStore.spillBlock(dir, s"d$b-v${stamped.version}", stamped.schema,
          m.delta))
      }
      val rbFile = stamped.rangeBounds.map(bounds =>
        FileStore.spillBounds(dir, stamped.version,
          stamped.schema(stamped.keyCol).dataType, bounds))
      // commit metadata: zone maps/sketches for the registered stat
      // columns ride the manifest. Untouched buckets hit the
      // (path, col) cache — the pass costs ∝ changed buckets, and a
      // reopened table plans pruning with ZERO block reads.
      val cols = statColumnsOf(name)
      val stats: Map[Int, Map[String, Option[BucketSkip.ColSkip]]] =
        if (cols.isEmpty) Map.empty
        else stamped.buckets.indices.iterator.flatMap { b =>
          val blk = stamped.buckets.block(b)
          blk.file.filter(_.path.nonEmpty).map { f =>
            b -> cols.iterator.map { c =>
              c -> BucketSkip.fileStatsGet(f.path, c).getOrElse {
                // cold block + never-committed column: stream exactly
                // the stat column ([[coldColStats]]) — an analyze over
                // a reopened table must not fault the table into heap
                val s = coldColStats(stamped.schema, f, blk, c)
                BucketSkip.fileStatsPut(f.path, c, s)
                s
              }
            }.toMap
          }
        }.toMap
      FileStore.writeManifest(dir, name, stamped, morFiles, rbFile,
        Option(firstVersions.get(name)).map(_.toLong).getOrElse(stamped.version),
        FileStore.TableConfig(dmlModeOf(name), checkOf(name), tagsOf(name),
          statColumnsOf(name), txnsOf(name), vacuumFloorOf(name)),
        stats, replace = replaceCurrent)
    } catch {
      // a lost commit race is a RETRYABLE conflict, never a reason to
      // degrade the table to heap-only — propagate it to the writer,
      // with the foreign commits already absorbed for the retry
      case e: ConcurrentWriteException =>
        versions.updateAndGet(v => math.max(v, FileStore.maxManifestVersion(tableDir(name))))
        refreshFromDisk(name): Unit
        throw e
      case scala.util.control.NonFatal(e) =>
        heapOnly.add(name)
        System.err.println(s"[graft-buckets] file backing disabled for '$name': " +
          s"${e.getClass.getSimpleName}: ${e.getMessage} — table is heap-only from here")
    }
  }

  /** Drop the in-heap row cache of every file-backed block across
    * `name`'s retained history — the table keeps serving from its
    * parquet file set, each scan loading exactly the buckets it opens.
    * Returns blocks evicted. (Spec/ops hook; a real cluster's
    * executors do this continuously under memory pressure.)
    */
  def evictTable(name: String): Int =
    history(name).iterator.flatMap(_.buckets.blocks.iterator).count(_.evict())

  /** Re-open a table from its directory in a fresh process: rebuild the
    * whole retained MVCC history from the manifests with every block
    * LAZY (file refs only — rows load per bucket on first touch), plus
    * the table config (DML mode, CHECK, tags, stat columns). Blocks are
    * deduplicated by path so COW sharing — and the identity discipline
    * every cache keys on — is reconstructed, not just the data.
    */
  def openFromDisk(name: String, dir: java.nio.file.Path): Long = synchronized {
    require(!exists(name), s"openFromDisk: table '$name' already in the store")
    // a directory can hold several lineages (a base table and its WAP
    // branches): serve exactly the named one. Legacy dirs whose
    // manifests predate the name (or were renamed) fall back to all.
    val all = FileStore.readManifests(dir)
    val named = all.filter(_.name == name)
    val ms = if (named.nonEmpty) named else all
    val hist = snapshotsOf(ms, scala.collection.mutable.HashMap[String, BucketBlock]())
    tables.put(name, hist.toVector)
    firstVersions.put(name, ms.last.firstVersion)
    tableDirs.put(name, dir)
    val cfg = ms.last.config
    dmlModes.put(name, cfg.dmlMode)
    cfg.check.foreach(checks.put(name, _))
    if (cfg.tags.nonEmpty) tags.put(name, cfg.tags)
    if (cfg.txns.nonEmpty) appliedTxns.put(name, cfg.txns)
    if (cfg.vacuumMinAgeMs > 0L) vacuumFloors.put(name, cfg.vacuumMinAgeMs)
    registerStatColumns(name, cfg.statColumns)
    // keep the global counters monotone past EVERY lineage in the
    // directory, not just the one being reopened: a shared WAP-branch
    // dir holds higher-versioned branch manifests, and seeding from
    // the named lineage alone would let the next publish reuse (and
    // with a replacing write, silently clobber) a branch's version
    versions.updateAndGet(v => math.max(v, all.iterator.map(_.version).max))
    lastStamp.updateAndGet(s => math.max(s, all.iterator.map(_.commitTs).max))
    hist.last.version
  }

  /** Rebuild snapshots from manifests, every base block LAZY and
    * deduplicated by path through `blockByPath` (seed it with the
    * existing history's blocks to preserve COW identity across a
    * refresh). Shared by [[openFromDisk]] and [[refreshFromDisk]].
    */
  private def snapshotsOf(ms: Seq[FileStore.Manifest],
      blockByPath: scala.collection.mutable.HashMap[String, BucketBlock]): Seq[BucketTable] = {
    val deltaByPath = scala.collection.mutable.HashMap[String, Array[Row]]()
    val boundsByPath = scala.collection.mutable.HashMap[String, Array[Any]]()
    ms.map { m =>
      if (zHealNeeded(m)) healSnapshot(m, deltaByPath, boundsByPath)
      else snapshotOf(m, blockByPath, deltaByPath, boundsByPath)
    }
  }

  private def snapshotOf(m: FileStore.Manifest,
      blockByPath: scala.collection.mutable.HashMap[String, BucketBlock],
      deltaByPath: scala.collection.mutable.HashMap[String, Array[Row]],
      boundsByPath: scala.collection.mutable.HashMap[String, Array[Any]]): BucketTable = {
      val blocks = m.buckets.map { bf =>
        if (bf.rows == 0) BucketBlock.ofMem(Array.empty[Row])
        else blockByPath.getOrElseUpdate(bf.path, BucketBlock.ofFile(bf))
      }
      // re-seed the (path, column) stat cache from commit metadata —
      // pruning plans over the reopened table without reading a block
      m.stats.foreach { case (b, byCol) =>
        val p = if (b < m.buckets.length) m.buckets(b).path else ""
        if (p.nonEmpty) byCol.foreach { case (c, s) => BucketSkip.fileStatsPut(p, c, s) }
      }
      val mor = m.mor.map { case (b, (bits, deltaFile)) =>
        b -> BucketMor(bits,
          if (deltaFile.rows == 0) Array.empty[Row]
          else deltaByPath.getOrElseUpdate(deltaFile.path, FileStore.readBlock(deltaFile)))
      }
      BucketTable(m.schema, m.keyCol, new BucketBlocks(blocks), m.hosts, m.version,
        m.clusterCol, m.commitTs,
        m.rangeBoundsFile.map(f =>
          boundsByPath.getOrElseUpdate(f.path, FileStore.readRangeBounds(f))),
        m.layoutEpoch, mor, m.replicated, m.zBounds, m.hrw,
        zKeyVersion = m.zKeyVersion)
  }

  /** Is this persisted z layout in a key space the current code CANNOT
    * reproduce? Version-0 manifests (pre `vacuumMinAgeMs`) keyed
    * `java.sql.Date` dimensions by timezone-dependent epoch millis and
    * TIMESTAMP_NTZ by a constant — a sort order that depended on the
    * writer's session, so trusting it would let MoR folds interleave
    * delta rows at wrong positions and clusterMerge persist mis-sorted
    * bases (silent wrong results). Such layouts are HEALED at open
    * instead ([[healSnapshot]]). Version-0 layouts WITHOUT an affected
    * dimension sorted identically to version 1 and are served as-is;
    * version-1 layouts differ from current only in decimal keys
    * (double-monotone — correct, coarser), kept until an explicit
    * re-sort ([[recluster]]/[[reorder]]).
    */
  private def zHealNeeded(m: FileStore.Manifest): Boolean =
    m.zKeyVersion == 0 && isZOrder(m.clusterCol) &&
      clusterColsOf(m.clusterCol).exists(c =>
        m.schema.fieldNames.contains(c) && (m.schema(c).dataType match {
          case org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampNTZType => true
          case _ => false
        }))

  /** One-time open-time migration of a version-0 z layout with
    * date/NTZ dimensions: fold any MoR state on the ORIGINAL physical
    * order (positions are only valid there), re-derive rank boundaries
    * and re-sort every bucket under the CURRENT key functions, and
    * serve the snapshot at [[ZOrder.KEY_VERSION]]. Eager by necessity
    * (the stored order is untrusted, so lazy blocks would serve wrong
    * merges) — the cost of one read+sort of the legacy table, paid
    * once per open until a rewrite persists the healed layout; stale
    * v0 zBounds are discarded, fresh ones computed from the data.
    */
  private def healSnapshot(m: FileStore.Manifest,
      deltaByPath: scala.collection.mutable.HashMap[String, Array[Row]],
      boundsByPath: scala.collection.mutable.HashMap[String, Array[Any]]): BucketTable = {
    val padded = Array.tabulate(m.buckets.length) { b =>
      val bf = m.buckets(b)
      val base = if (bf.rows == 0) Array.empty[Row] else FileStore.readBlock(bf)
      val live = m.mor.get(b) match {
        case None => base
        case Some((bits, df)) =>
          val delta =
            if (df.rows == 0) Array.empty[Row]
            else deltaByPath.getOrElseUpdate(df.path, FileStore.readBlock(df))
          (base.iterator.zipWithIndex.collect { case (r, i) if !bits.get(i) => r } ++
            delta.iterator.zipWithIndex.collect {
              case (r, j) if !bits.get(base.length + j) => r
            }).toArray
      }
      live.map(pad(_, m.schema.length))
    }
    val zIdxs = clusterColsOf(m.clusterCol).map(m.schema.fieldIndex).toArray
    val bs = ZOrder.boundsForRows(padded.iterator.flatten, zIdxs,
      ZOrder.keyFns(m.schema, zIdxs, ZOrder.KEY_VERSION))
    val freshBounds = if (bs.forall(_.isEmpty)) None else Some(bs)
    BucketTable(m.schema, m.keyCol,
      BucketBlocks.fromArrays(padded.map(rows =>
        clusterSort(m.schema, m.clusterCol, rows, freshBounds, ZOrder.KEY_VERSION))),
      m.hosts, m.version, m.clusterCol, m.commitTs,
      m.rangeBoundsFile.map(f =>
        boundsByPath.getOrElseUpdate(f.path, FileStore.readRangeBounds(f))),
      m.layoutEpoch, Map.empty, m.replicated, freshBounds, m.hrw,
      zKeyVersion = ZOrder.KEY_VERSION)
  }

  /** REFRESH-AND-RETRY, the second half of the cross-process commit
    * protocol: absorb commits that landed in the table's directory
    * from ANOTHER process — every manifest of this lineage newer than
    * the in-heap head — appending their snapshots to the retained
    * history (blocks shared BY PATH with the existing history, so COW
    * identity and the heap cache survive) and adopting the newest
    * commit's config (DML mode, CHECK, tags, stat columns, txn marks).
    * The loser of a conditional-commit race is refreshed AUTOMATICALLY
    * ([[spillAndManifest]]'s conflict path calls this before
    * rethrowing), so a plain statement retry re-plans against the
    * foreign head and COMPOSES with it instead of resurrecting a stale
    * base — Delta/Iceberg's refresh-and-retry semantics. Returns the
    * number of foreign commits absorbed.
    */
  def refreshFromDisk(name: String): Int = synchronized {
    if (!isFileBacked(name)) return 0
    val dir = tableDir(name)
    val hist = tables.get(name)
    if (hist == null || hist.isEmpty) return 0 // a first publish has no head to refresh
    val head = hist.last.version
    val fresh = FileStore.readManifests(dir)
      .filter(m => m.name == name && m.version > head)
    if (fresh.isEmpty) return 0
    // share blocks with the existing history by path: a foreign commit
    // re-referencing our files must resolve to OUR (possibly loaded)
    // block instances, not cold duplicates
    val blockByPath = scala.collection.mutable.HashMap[String, BucketBlock]()
    hist.foreach(_.buckets.blocks.foreach(b =>
      b.file.filter(_.path.nonEmpty).foreach(f => blockByPath.getOrElseUpdate(f.path, b))))
    val absorbed = snapshotsOf(fresh, blockByPath)
    tables.put(name, (hist ++ absorbed).takeRight(RetainedVersions))
    val cfg = fresh.last.config
    dmlModes.put(name, cfg.dmlMode)
    cfg.check.foreach(checks.put(name, _))
    if (cfg.tags.nonEmpty) tags.merge(name, cfg.tags, (a, b) => a ++ b)
    recordTxnsFrom(name, cfg.txns)
    // adopt the newest commit's durable retention floor like dmlMode —
    // but never WEAKEN a stricter local floor (an operator's live
    // `CALL graft.retention` must survive absorbing an older commit)
    if (cfg.vacuumMinAgeMs > 0L)
      vacuumFloors.merge(name, cfg.vacuumMinAgeMs,
        (a, b) => if (a.longValue >= b.longValue) a else b)
    registerStatColumns(name, cfg.statColumns)
    versions.updateAndGet(v => math.max(v, fresh.last.version))
    lastStamp.updateAndGet(s => math.max(s, fresh.last.commitTs))
    absorbed.size
  }

  // ——— READER-SIDE REFRESH (round 17) ———
  //
  // refreshFromDisk fires automatically only on a LOST COMMIT — a
  // process that only READS never absorbs foreign commits and serves
  // a stale (correct, snapshot-isolated) head forever. The standard
  // 100 TB deployment is one writer + N reader processes, so readers
  // get two surfaces: `CALL graft.refresh('t')` (immediate, explicit)
  // and an OPT-IN staleness policy — scan planning and streaming
  // offset discovery re-list the directory when the last check is
  // older than the policy's window (one `Files.list` per check,
  // O(listing); new manifests parse once via the path cache) and
  // absorb whatever foreign commits landed. Off by default: snapshot
  // isolation stays the contract unless the table opts in.

  private val refreshPolicies = new ConcurrentHashMap[String, java.lang.Long]()
  private val lastStalenessCheck = new ConcurrentHashMap[String, java.lang.Long]()

  /** Opt this table into staleness-triggered refresh: scans and
    * streaming offset checks re-list the directory when the last look
    * is older than `maxStalenessMs` (0 = every scan).
    */
  def setRefreshPolicy(name: String, maxStalenessMs: Long): Unit = {
    require(maxStalenessMs >= 0, s"refresh policy must be >= 0 ms, got $maxStalenessMs")
    refreshPolicies.put(name, maxStalenessMs)
    ()
  }

  def clearRefreshPolicy(name: String): Unit = { refreshPolicies.remove(name); () }

  /** The staleness-policy hook ([[BucketedScanBuilder]] planning,
    * [[BucketMicroBatchStream]] offset discovery): absorb foreign
    * commits iff the table opted in and the window elapsed. Returns
    * commits absorbed (0 on every no-op path). The directory head is
    * LINEAGE-scoped — a WAP branch's higher version in the shared dir
    * is not a foreign commit to this lineage.
    */
  def maybeRefresh(name: String): Int = {
    val policy = refreshPolicies.get(name)
    if (policy == null || !isFileBacked(name)) return 0
    val now = System.currentTimeMillis()
    val last = lastStalenessCheck.get(name)
    if (last != null && now - last < policy) return 0
    lastStalenessCheck.put(name, now)
    if (FileStore.maxManifestVersionOf(tableDir(name), name) > currentVersion(name))
      refreshFromDisk(name)
    else 0
  }

  /** Skip statistics for (bucket, column) WITHOUT materializing the
    * fold: the base array's identity-cached stats plus (for MOR
    * buckets) the delta array's. Deleted rows stay counted in the base
    * part — strictly conservative (a hidden value can only cause a
    * needless open, never a wrong skip). `None` = cannot skip.
    *
    * File-backed blocks consult the (path, column)-keyed stat cache
    * FIRST — seeded by publish and by [[openFromDisk]] from the
    * manifest — so planning over an evicted or freshly reopened table
    * prunes with ZERO block I/O. Loading rows to compute stats is the
    * fallback for stats never committed (e.g. a column registered
    * after the table's last publish), and the result is path-cached so
    * the load happens at most once per block file.
    */
  /** Column stats for one file-backed block, COLD-AWARE: a loaded
    * block computes over its in-heap rows (free); an evicted one
    * STREAMS exactly the stat column from its parquet file
    * ([[FileStore.readBlockProjected]]) — `CALL graft.analyze` on a
    * reopened 100 TB table with a newly registered column decodes one
    * column per block and faults NOTHING into the heap cache. Any
    * streaming failure falls back loudly-cheaply to the loading path.
    */
  private def coldColStats(schema: StructType, f: FileStore.BlockFile,
      blk: BucketBlock, c: String): Option[BucketSkip.ColSkip] =
    if (blk.isLoaded || !schema.fieldNames.contains(c))
      BucketSkip.statsFor(schema, blk.rows, c)
    else {
      try {
        val field = schema(c)
        BucketSkip.buildStreaming(field, f.rows,
          FileStore.readBlockProjected(f, StructType(Seq(field))))
      } catch {
        case scala.util.control.NonFatal(_) => BucketSkip.statsFor(schema, blk.rows, c)
      }
    }

  def skipStatParts(t: BucketTable, b: Int, c: String): Option[Seq[BucketSkip.ColSkip]] = {
    def baseStats: Option[BucketSkip.ColSkip] = {
      val blk = t.buckets.block(b)
      blk.file.filter(_.path.nonEmpty) match {
        case Some(f) =>
          BucketSkip.fileStatsGet(f.path, c).getOrElse {
            val s = coldColStats(t.schema, f, blk, c)
            BucketSkip.fileStatsPut(f.path, c, s)
            s
          }
        case None => BucketSkip.statsFor(t.schema, blk.rows, c)
      }
    }
    t.mor.get(b) match {
      case None => baseStats.map(Seq(_))
      case Some(m) if m.delta.isEmpty => baseStats.map(Seq(_))
      case Some(m) =>
        for {
          bs <- baseStats
          ds <- BucketSkip.statsFor(t.schema, m.delta, c)
        } yield Seq(bs, ds)
    }
  }

  /** Columns with data-skipping statistics maintained AT COMMIT for
    * each table: registered by the first pushed filter that touches a
    * column ([[BucketSplits.plan]]) or explicitly via
    * `CALL graft.analyze` — from then on every publish keeps the
    * changed buckets' stats warm and planning never pays a stat pass.
    */
  private val statColumns = new ConcurrentHashMap[String, Set[String]]()

  // ——— IDEMPOTENT WRITES (txnappid/txnversion write options) ———
  //
  // The Delta txn contract: a batch job tags its write with an
  // application id and a monotone version; a RETRY of an
  // already-committed batch re-submits the same pair and the commit
  // SKIPS instead of double-appending. The high-water mark per
  // (table, appId) rides every manifest ([[FileStore.TableConfig]]),
  // so the dedupe survives a restart — exactly-once ingest without a
  // coordinator. The streaming sink reuses the same mechanism with
  // the EPOCH as the version, making micro-batch replay across a
  // query restart idempotent too.

  private val appliedTxns = new ConcurrentHashMap[String, Map[String, Long]]()

  /** High-water txn version applied to `name` by `appId` (specs/ops). */
  def txnVersionOf(name: String, appId: String): Option[Long] =
    Option(appliedTxns.get(name)).flatMap(_.get(appId))

  private[bucketed] def txnsOf(name: String): Map[String, Long] =
    appliedTxns.getOrDefault(name, Map.empty)

  private def txnAlreadyApplied(name: String, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (a, v) => txnVersionOf(name, a).exists(_ >= v) }

  private def recordTxnsFrom(name: String, marks: Map[String, Long]): Unit =
    marks.foreach { case (a, v) => recordTxn(name, Some((a, v))) }

  private def recordTxn(name: String, txn: Option[(String, Long)]): Unit =
    txn.foreach { case (a, v) =>
      appliedTxns.merge(name, Map(a -> v), (old, nw) =>
        old ++ nw.map { case (k, x) => k -> math.max(x, old.getOrElse(k, Long.MinValue)) })
      ()
    }

  /** Record the idempotency mark, then publish — and ROLL THE MARK BACK
    * if the publish fails. The record-before-manifest order is what
    * gives same-commit durability (the version's own manifest carries
    * the high-water mark); but a mark surviving a FAILED publish would
    * turn the batch's legitimate retry into a silent no-op (data loss),
    * so failure restores the exact prior marks before rethrowing.
    */
  private def recordTxnAndPublish(name: String, txn: Option[(String, Long)],
      next: BucketTable): Unit = {
    val before = appliedTxns.get(name) // immutable map (or null)
    recordTxn(name, txn)
    try publish(name, next)
    catch {
      case t: Throwable =>
        // roll back OUR app's mark only — and only if it still holds
        // the value THIS commit recorded: a conflict-triggered refresh
        // inside the failed publish may have absorbed a same-app-id
        // foreign mark (a failover/zombie instance of the same
        // streaming app committing cross-process), and clobbering it
        // back down would replay that foreign batch as a duplicate
        txn.foreach { case (a, v) =>
          val prior = Option(before).flatMap(_.get(a))
          appliedTxns.compute(name, (_, cur0) => {
            val cur = if (cur0 == null) Map.empty[String, Long] else cur0
            if (!cur.get(a).contains(v)) cur // foreign mark absorbed — keep it
            else prior match {
              case Some(p) => cur.updated(a, p)
              case None => cur - a
            }
          })
          ()
        }
        throw t
    }
  }

  /** Re-write the CURRENT version's manifest with the table's
    * now-registered statistics (same snapshot, richer commit
    * metadata) — called by `CALL graft.analyze` so stats registered
    * AFTER the last publish still survive a restart. Atomic
    * (temp + replace move); a no-op for heap-only tables.
    */
  def refreshManifestStats(name: String): Unit = synchronized {
    if (isFileBacked(name)) {
      val hist = history(name)
      spillAndManifest(name, hist.last, hist.dropRight(1).lastOption, replaceCurrent = true)
    }
  }

  def registerStatColumns(name: String, cols: Iterable[String]): Unit =
    if (cols.nonEmpty) {
      statColumns.merge(name, cols.toSet, (a, b) => a ++ b)
      ()
    }

  def statColumnsOf(name: String): Set[String] = statColumns.getOrDefault(name, Set.empty)

  /** Commit timestamp (micros) of retained snapshot `v` — what
    * `TIMESTAMP AS OF` resolves against. Loud if vacuumed/unknown.
    */
  def commitTimestamp(name: String, v: Long): Long = snapshot(name, v).commitTs

  /** The retained version current as of timestamp `t` (micros): the
    * LATEST version whose commit timestamp is ≤ t. Loud when `t`
    * predates the oldest retained commit — the snapshot that was
    * current then is vacuumed (or never existed), and silently serving
    * a newer one would be wrong.
    */
  def versionAt(name: String, t: Long): Long = {
    val hist = history(name)
    val candidates = hist.filter(_.commitTs <= t)
    require(candidates.nonEmpty,
      s"no retained snapshot of '$name' at or before timestamp $t (retained commits: " +
        s"${hist.map(h => s"v${h.version}@${h.commitTs}").mkString(", ")}) — vacuumed or " +
        "before the table existed")
    candidates.last.version
  }

  /** The first version ever published for `name` (not affected by
    * vacuum). Loud if the table does not exist.
    */
  def firstVersion(name: String): Long = {
    val v = firstVersions.get(name)
    require(v != null, s"BucketStore has no table '$name'")
    v
  }

  /** Load a DataFrame into the store as `name`, hash-partitioned on
    * `keyCol` into `numBuckets` buckets, through the SAME distributed
    * two-phase commit every user write takes ([[BucketedWrite]]):
    * Spark exchanges into one task per bucket, each task routes its
    * rows with the byte-identical hash, and the commit publishes all
    * buckets under ONE new version. No driver-side materialization of
    * the DataFrame exists on this path — against a real cluster the
    * tasks would land rows host-locally and commit would flip the
    * version pointer, exactly like ingest (the protocol IS the
    * production one; only [[BucketStore]]'s in-JVM arrays are the
    * simulation seam).
    *
    * Repeated loads publish a new snapshot version (the previous one
    * stays readable in the MVCC window). A re-load that CHANGES the
    * layout (schema, key, bucket count, cluster spec) first publishes
    * an empty shell version carrying the new layout with a bumped
    * layout epoch — a write staged against the old layout then fails
    * loudly at commit instead of mis-routing ([[commitWrite]]'s epoch
    * guard), and history stays continuous for MVCC/CDC readers.
    */
  def load(spark: SparkSession, name: String, df: DataFrame, keyCol: String,
      numBuckets: Int, nHosts: Int = 4, clusterBy: Option[String] = None,
      replicate: Boolean = false): Unit = {
    require(df.schema.fieldNames.contains(keyCol),
      s"bucket key '$keyCol' not in schema [${df.schema.fieldNames.mkString(", ")}]")
    clusterColsOf(clusterBy).foreach(c => require(df.schema.fieldNames.contains(c),
      s"cluster column '$c' not in schema [${df.schema.fieldNames.mkString(", ")}]"))
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(!replicate || numBuckets == 1,
      s"a replicated table has exactly ONE logical bucket (every host holds it); got $numBuckets")
    synchronized {
      if (!exists(name)) {
        createEmpty(name, StructType(df.schema.fields), keyCol, numBuckets, nHosts, clusterBy,
          replicate)
      } else {
        val t = get(name)
        val sameLayout = t.buckets.length == numBuckets && t.keyCol == keyCol &&
          t.clusterCol == clusterBy && t.rangeBounds.isEmpty &&
          t.replicated == replicate &&
          t.schema.length == df.schema.length &&
          t.schema.fields.zip(df.schema.fields).forall { case (a, b) =>
            a.name == b.name && a.dataType == b.dataType }
        if (!sameLayout)
          // a fresh shell: zBounds deliberately reset to None (the
          // default) — the overwrite that follows is the new layout's
          // first data commit and freezes fresh rank boundaries
          publish(name, BucketTable(
            StructType(df.schema.fields), keyCol,
            Array.fill(numBuckets)(Array.empty[Row]),
            if (replicate) Array(fleetOf(nHosts))
            else Array.tabulate(numBuckets)(hostsFor(_, nHosts)),
            versions.incrementAndGet(),
            clusterBy,
            layoutEpoch = t.layoutEpoch + 1,
            replicated = replicate))
      }
    }
    df.writeTo(s"graft.`$name`").overwrite(lit(true))
  }

  /** Parse the cluster-key property into its column list — one entry
    * for a plain column, layout order for a compound `"c1,c2"` key,
    * the interleave dimensions for a `"zorder(c1,c2)"` key.
    */
  def clusterColsOf(clusterCol: Option[String]): Seq[String] =
    clusterCol.toSeq.flatMap(s =>
      ZOrder.colsOf(s).getOrElse(s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)))

  /** Is the table's layout a z-order (Morton) curve rather than a
    * lexicographic sort?
    */
  def isZOrder(clusterCol: Option[String]): Boolean = clusterCol.exists(ZOrder.isSpec)

  /** The cluster columns usable for LEXICOGRAPHIC reasoning — binary-
    * search slicing ([[ClusterRange]]), reported output ordering,
    * index-ordered TopN. Empty for a z-order layout: the Morton sort
    * is not a per-column order, so none of those claims hold there
    * (z-order tables are served by block-level zone maps instead,
    * [[HostConnection.fetchBucket]]).
    */
  def lexClusterColsOf(clusterCol: Option[String]): Seq[String] =
    if (isZOrder(clusterCol)) Seq.empty else clusterColsOf(clusterCol)

  /** The effective Morton key of a z-layout: rank-normalized when the
    * table's boundaries are frozen ([[ZOrder.keyRanked]] — narrow and
    * wide dimensions weigh equally on the curve), raw bit interleave
    * before any data exists. Exposed via [[zKeyOf]] so specs pin the
    * SAME order the store maintains.
    */
  private def zKeyFn(schema: StructType, clusterCol: Option[String],
      zBounds: Option[Array[Array[Long]]],
      zKeyVersion: Int = ZOrder.KEY_VERSION): Row => Array[Long] = {
    val idxs = clusterColsOf(clusterCol).map(schema.fieldIndex).toArray
    val fns = ZOrder.keyFns(schema, idxs, zKeyVersion)
    zBounds match {
      case Some(bs) if bs.length == idxs.length => r => ZOrder.keyRanked(r, idxs, bs, fns)
      case _ => r => ZOrder.key(r, idxs, fns)
    }
  }

  /** Spec hook: the Morton key function a table's rows are actually
    * ordered by.
    */
  def zKeyOf(t: BucketTable): Row => Array[Long] =
    zKeyFn(t.schema, t.clusterCol, t.zBounds, t.zKeyVersion)

  /** The layout's order as (key extractor, key comparator), for the
    * sort/merge paths that compute each row's key ONCE and compare keys
    * after: a `zorder(...)` key is the row's Morton code, compared
    * unsigned ([[ZOrder.cmp]] — searched by nothing; it exists to make
    * block zone maps tight); a lexicographic key is the row itself
    * under [[KeyOrder.rows]] (nulls first — the order
    * [[ClusterRange.sliceSortedCompound]] binary-searches), which reads
    * the key cells in place. Every sort, merge, and fold shares this
    * one dispatch, so the maintained invariant is identical across
    * load/append/DML/recluster.
    */
  private def clusterKeyedCmp(schema: StructType, clusterCol: Option[String],
      zBounds: Option[Array[Array[Long]]],
      zKeyVersion: Int): (Row => AnyRef, (AnyRef, AnyRef) => Int) =
    if (isZOrder(clusterCol)) {
      val zk = zKeyFn(schema, clusterCol, zBounds, zKeyVersion)
      (r => zk(r),
        (x, y) => ZOrder.cmp(x.asInstanceOf[Array[Long]], y.asInstanceOf[Array[Long]]))
    } else {
      val ord = KeyOrder.rows(schema, clusterColsOf(clusterCol).map(schema.fieldIndex).toArray)
      (r => r, (x, y) => ord.compare(x.asInstanceOf[Row], y.asInstanceOf[Row]))
    }

  /** Keep a bucket's rows sorted on the cluster key — the ordering the
    * fetch path binary-searches (lexicographic) or the Morton curve
    * block pruning leans on. Schwartzian sort for BOTH layouts: keys
    * computed once per row, stable (TimSort) so ties keep their
    * arrival order exactly as before.
    */
  private def clusterSort(schema: StructType, clusterCol: Option[String],
      rows: Array[Row], zBounds: Option[Array[Array[Long]]] = None,
      zKeyVersion: Int = ZOrder.KEY_VERSION): Array[Row] =
    clusterCol match {
      case None => rows
      case c =>
        val (key, cmp) = clusterKeyedCmp(schema, c, zBounds, zKeyVersion)
        rows.map(r => (key(r), r))
          .sortWith((x, y) => cmp(x._1, y._1) < 0)
          .map(_._2)
    }

  // ————— merge-on-read fold + DML-mode plumbing —————

  /** Row-level DML strategy per table: `copy-on-write` (default)
    * rewrites owning buckets through the group-replace path;
    * `merge-on-read` commits deletion vectors + delta rows
    * ([[applyDelta]]) folded at read. Operational config, like the
    * stat-column registry — set via TBLPROPERTIES
    * (`write.dml.mode`) or [[setDmlMode]].
    */
  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"
  private val dmlModes = new ConcurrentHashMap[String, String]()

  def setDmlMode(name: String, mode: String): Unit = {
    require(mode == CopyOnWrite || mode == MergeOnRead,
      s"write.dml.mode must be '$CopyOnWrite' or '$MergeOnRead', got '$mode'")
    dmlModes.put(name, mode)
    ()
  }

  def dmlModeOf(name: String): String = dmlModes.getOrDefault(name, CopyOnWrite)

  /** Per-table VACUUM RETENTION FLOOR in milliseconds — set via
    * TBLPROPERTIES('vacuum.min_age_ms'='…') or [[setVacuumFloor]]; the
    * Delta `deletedFileRetentionDuration` analog. It is BOTH the
    * default `min_age_ms` when `CALL graft.vacuum` omits the argument
    * AND the floor every AUTOMATIC (publish-time retention) GC honors,
    * so setting it once protects a table's stale foreign readers from
    * every collection path, not just explicit vacuums. 0 (the
    * default) keeps the pre-floor count-based contract.
    */
  private val vacuumFloors = new ConcurrentHashMap[String, java.lang.Long]()

  def setVacuumFloor(name: String, minAgeMs: Long): Unit = {
    require(minAgeMs >= 0L, s"vacuum.min_age_ms must be >= 0, got $minAgeMs")
    vacuumFloors.put(name, minAgeMs)
    persistVacuumFloor(name)
  }

  /** Clear (or lower, via [[setVacuumFloor]]) the retention floor.
    * CROSS-PROCESS SEMANTICS, deliberately asymmetric: floor RAISES
    * propagate to live foreign processes at their next absorb (the
    * max-merge in [[refreshFromDisk]]); clears/lowers take effect in
    * foreign processes only after THEY reopen the table. The
    * asymmetry is forced by durability mechanics — a floor change
    * re-publishes the CURRENT version's manifest in place (no version
    * bump), so a foreign process at the same head has no commit to
    * absorb and no ordering signal to distinguish "cleared after my
    * floor" from "stale manifest predating it"; max-merge resolves
    * that ambiguity in the only safe direction (over-retention: a GC
    * sweeps less than allowed, never more than declared). Operators
    * lowering retention fleet-wide bounce readers or wait for their
    * natural reopen.
    */
  def clearVacuumFloor(name: String): Unit = {
    vacuumFloors.remove(name)
    persistVacuumFloor(name)
  }

  /** The floor is DURABLE table metadata (round 19): re-publish the
    * current manifest so a restarted or FOREIGN process restores it at
    * open/absorb instead of running floor-0 GC against readers the
    * operator declared protected. `CALL graft.retention` on a table
    * that predates its next data commit is durable immediately; a
    * concurrent foreign commit retries once against the fresh head
    * (spillAndManifest's conflict path absorbs it before rethrowing).
    * No-op for heap-only / not-yet-published tables — their first
    * publish carries the floor in its TableConfig anyway.
    */
  private def persistVacuumFloor(name: String): Unit =
    if (tables.containsKey(name) && isFileBacked(name)) {
      try refreshManifestStats(name)
      catch { case _: ConcurrentWriteException => refreshManifestStats(name) }
    }

  def vacuumFloorOf(name: String): Long =
    Option(vacuumFloors.get(name)).map(_.longValue).getOrElse(0L)

  /** The strictest floor among OTHER lineages sharing `dir` (a base
    * table and its WAP branches share one directory, and a sweep
    * there must honor every cohabitant's floor) — `except` lets an
    * explicit per-table vacuum override its OWN floor without
    * weakening its neighbors'.
    */
  private def floorSharing(dir: java.nio.file.Path, except: String = ""): Long = {
    var f = 0L
    tableDirs.forEach { (n, d) =>
      if (d == dir && n != except) f = math.max(f, vacuumFloorOf(n))
    }
    f
  }

  /** CHECK constraints, one boolean SQL expression per table (see
    * [[CheckConstraint]]). Operational config like [[dmlModes]] — set
    * via TBLPROPERTIES('check'='...') or [[setCheck]]; enforced at
    * every row-ingesting choke point ([[commitWrite]], [[upsertRows]],
    * [[applyDelta]] inserts) AND task-side in the DSv2 writer — the
    * choke points are this stand-in's driver-resident safety net, the
    * writer is the distributed path a real cluster relies on.
    */
  private val checks = new ConcurrentHashMap[String, String]()

  def checkOf(name: String): Option[String] = Option(checks.get(name))

  /** Install (or replace) `name`'s CHECK constraint. Like Delta's ADD
    * CONSTRAINT, the EXISTING rows must already satisfy it — a
    * constraint the current data violates is rejected, not recorded.
    */
  def setCheck(name: String, exprStr: String): Unit = synchronized {
    val t = get(name)
    val bound = CheckConstraint.bind(t.schema, exprStr) // loud on bad columns/type
    // ADD CONSTRAINT must prove the EXISTING rows satisfy the
    // expression — but proving it needs only the expression's
    // referenced columns, so a COLD clean bucket streams exactly those
    // from its file instead of folding the whole bucket into heap
    // (round 17; ADD CONSTRAINT on a cold 100 TB table decodes the
    // constraint's columns, not the table). MoR/loaded buckets keep
    // the fold; so does a column-free constant expression.
    val refs = bound.collect {
      case br: org.apache.spark.sql.catalyst.expressions.BoundReference => br.ordinal
    }.distinct.map(t.schema.fields(_).name).toSet
    val proj = StructType(t.schema.fields.filter(fd => refs.contains(fd.name)))
    t.buckets.indices.foreach { b =>
      val blk = t.buckets.block(b)
      val cold = !blk.isLoaded && !t.mor.contains(b) && proj.nonEmpty &&
        blk.file.exists(_.path.nonEmpty)
      // the streamed validation is sound only when it saw EVERY row:
      // a constraint referencing only columns absent from a pre-ALTER
      // file streams ZERO rows (the standing missing-column contract
      // readBlockProjected documents), which would vacuously pass e.g.
      // ADD CONSTRAINT `newcol IS NOT NULL` while the fold path NULL-
      // pads those rows and raises — so count the rows consumed and
      // fall back to the fold when the stream ran short (mirrors
      // morFastDiff's `k < basePos.length` drift guard). Only a
      // genuine [[CheckConstraint.Violation]] rethrows; any OTHER
      // failure (stream/type-converter IAE included) is a read
      // problem, not a violation, and takes the fold fallback too.
      val streamedComplete = cold && {
        val bf = blk.file.get
        try {
          var seen = 0
          CheckConstraint.validate(name, exprStr, proj,
            FileStore.readBlockProjected(bf, proj).map { r => seen += 1; r })
          seen == bf.rows
        } catch {
          case e: CheckConstraint.Violation => throw e // a real violation
          case scala.util.control.NonFatal(_) => false
        }
      }
      if (!streamedComplete)
        CheckConstraint.validate(name, exprStr, t.schema, folded(t, b).rows)
    }
    checks.put(name, exprStr)
    ()
  }

  def dropCheck(name: String): Unit = { checks.remove(name); () }

  /** Named snapshot tags (Iceberg tag / Delta "name a version" UX):
    * tag → retained MVCC version, resolvable wherever a numeric
    * version is (`VERSION AS OF 'release-v1'`, the `versionasof` scan
    * option via the catalog). A tag PINS nothing — vacuum can still
    * drop the version; resolution then fails with the same loud
    * not-retained error a numeric read gets. Tag names must not look
    * numeric (they would shadow version literals).
    */
  private val tags = new ConcurrentHashMap[String, Map[String, Long]]()

  def setTag(name: String, tag: String, version: Option[Long] = None): Long = synchronized {
    require(tag.nonEmpty && tag.toLongOption.isEmpty,
      s"tag name must be non-empty and non-numeric, got '$tag'")
    val v = version.getOrElse(get(name).version)
    require(retained(name).contains(v),
      s"cannot tag '$name' at v$v — not a retained version (retained: " +
        s"${retained(name).mkString(", ")})")
    tags.merge(name, Map(tag -> v), (a, b) => a ++ b)
    v
  }

  def tagOf(name: String, tag: String): Option[Long] =
    Option(tags.get(name)).flatMap(_.get(tag))

  // ——— WAP branches (write-audit-publish) ———
  //
  // A branch is an ordinary store entry keyed `base#branch` SHARING
  // the base table's directory: the fork is one zero-copy publish
  // (every bucket re-references the base head's files by identity),
  // so every existing read/write/DML/procedure path works on a branch
  // unchanged — the name routes it. Branch manifests carry the branch
  // name, versions are globally unique, so lineages in the shared
  // directory never conflate ([[openFromDisk]] filters by name) and
  // manifest filenames cannot collide. GC roots are the UNION of all
  // lineages sharing the directory ([[retainedVersionsSharing]]).
  // Fast-forward publish is the Iceberg WAP contract: main must be
  // UNCHANGED since the fork, else [[ConcurrentWriteException]] — the
  // audit pipeline re-branches from the new head and replays.

  def branchName(base: String, branch: String): String = s"$base#$branch"

  /** Reserved tag persisting a branch's fork point in its manifests
    * (restart-durable; never a valid time-travel target on the branch,
    * so a misuse fails with the standard not-retained error).
    */
  val ForkTag: String = "__fork__"

  /** Fork version per branch — what [[publishBranch]] fast-forward
    * validates against ([[ForkTag]] is the durable copy).
    */
  private val branchForkVersions = new ConcurrentHashMap[String, java.lang.Long]()

  /** Fork `base`'s current head as branch `branch` — zero-copy (one
    * manifest write; every block re-references its existing file).
    * Returns the branch head's version.
    */
  def createBranch(base: String, branch: String): Long = synchronized {
    require(!base.contains("#"), s"cannot branch a branch ('$base')")
    require(branch.nonEmpty && !branch.contains("#") && !branch.contains("/"),
      s"bad branch name '$branch'")
    val bname = branchName(base, branch)
    require(!exists(bname), s"branch '$branch' of '$base' already exists")
    val head = get(base)
    // share the base's directory BEFORE the fork publish so the branch
    // manifest and its future spills land beside the files they
    // reference (single GC domain)
    if (isFileBacked(base)) tableDirs.put(bname, tableDir(base))
    if (heapOnly.contains(base)) heapOnly.add(bname)
    dmlModes.put(bname, dmlModeOf(base))
    checkOf(base).foreach(c => checks.put(bname, c))
    if (txnsOf(base).nonEmpty) appliedTxns.put(bname, txnsOf(base))
    // the fork point rides the branch's manifests as a reserved tag,
    // so fast-forward validation survives a restart (openFromDisk
    // restores tags); set BEFORE the fork publish so the very first
    // manifest carries it
    tags.put(bname, Map(ForkTag -> head.version))
    val forked = head.copy(version = versions.incrementAndGet())
    // stat columns register AFTER the fork publish: warming would
    // force-load every (possibly evicted) block, and the shared
    // (path, column) stat cache already serves the branch's pruning —
    // the fork must stay a pure manifest write
    publish(bname, forked)
    registerStatColumns(bname, statColumnsOf(base))
    branchForkVersions.put(bname, head.version)
    forked.version
  }

  /** Fast-forward `base` to its branch's head and drop the branch —
    * the PUBLISH of write-audit-publish. Atomic under the commit lock;
    * refuses (loudly) if main moved since the fork, because
    * fast-forwarding would silently discard those commits.
    */
  def publishBranch(base: String, branch: String): Long = synchronized {
    val bname = branchName(base, branch)
    require(exists(bname), s"no branch '$branch' of '$base'")
    val fork = Option(branchForkVersions.get(bname)).map(_.toLong)
      .orElse(tagsOf(bname).get(ForkTag)) // restart-durable copy
      .getOrElse(throw new IllegalStateException(
        s"branch '$bname' has no recorded fork point"))
    val mainHead = get(base)
    if (mainHead.version != fork)
      throw new ConcurrentWriteException(
        s"cannot fast-forward '$base' to branch '$branch': main moved since the fork " +
          s"(v$fork → v${mainHead.version}) — branch from the current head and replay")
    // txn marks recorded on the branch travel with its batches
    recordTxnsFrom(base, txnsOf(bname))
    val published = get(bname).copy(version = versions.incrementAndGet())
    publish(base, published)
    dropBranch(base, branch)
    published.version
  }

  /** REBASE a branch onto main's current head: when main moved since
    * the fork but on DISJOINT buckets, the branch's changes replay for
    * free — the rebased head is main's current blocks with the
    * branch's changed buckets (blocks + MoR state) swapped in, one
    * zero-copy publish, and the fork point advances to main's head so
    * [[publishBranch]] then fast-forwards cleanly. Overlapping
    * buckets, a layout change on either side, or a schema/zBounds
    * change on main are genuine conflicts ([[ConcurrentWriteException]]
    * — re-branch and replay); a branch-side ALTER survives the rebase
    * (main's untouched blocks NULL-pad at read, the standing
    * schema-evolution contract). Returns the rebased head's version.
    */
  def rebaseBranch(base: String, branch: String): Long = synchronized {
    val bname = branchName(base, branch)
    require(exists(bname), s"no branch '$branch' of '$base'")
    val fork = Option(branchForkVersions.get(bname)).map(_.toLong)
      .orElse(tagsOf(bname).get(ForkTag))
      .getOrElse(throw new IllegalStateException(
        s"branch '$bname' has no recorded fork point"))
    val mainHead = get(base)
    if (mainHead.version == fork) return currentVersion(bname) // nothing moved
    def conflict(why: String): Nothing = throw new ConcurrentWriteException(
      s"cannot rebase branch '$branch' of '$base': $why — re-branch from the current " +
        "head and replay")
    val forkSnap = history(base).find(_.version == fork).getOrElse(
      conflict(s"fork version v$fork is no longer retained"))
    val bhead = get(bname)
    if (mainHead.layoutEpoch != forkSnap.layoutEpoch ||
      bhead.layoutEpoch != forkSnap.layoutEpoch)
      conflict("the bucket layout changed since the fork")
    if (mainHead.schema != forkSnap.schema)
      conflict("main's schema changed since the fork")
    if (!(mainHead.zBounds.isEmpty && forkSnap.zBounds.isEmpty) &&
      !mainHead.zBounds.exists(zb => forkSnap.zBounds.exists(_ eq zb)))
      conflict("main's z-order rank boundaries changed since the fork")
    val branchChanged = bhead.buckets.indices
      .filter(b => !bucketUnchanged(bhead, forkSnap, b)).toSet
    val mainChanged = mainHead.buckets.indices
      .filter(b => !bucketUnchanged(mainHead, forkSnap, b)).toSet
    val overlap = branchChanged.intersect(mainChanged)
    if (overlap.nonEmpty)
      conflict(s"bucket(s) ${overlap.toSeq.sorted.mkString(", ")} changed on both sides")
    val blocks = Array.tabulate(mainHead.buckets.length) { b =>
      if (branchChanged.contains(b)) bhead.buckets.block(b) else mainHead.buckets.block(b)
    }
    val mor = mainHead.mor.filter { case (b, _) => !branchChanged.contains(b) } ++
      bhead.mor.filter { case (b, _) => branchChanged.contains(b) }
    // advance the fork point BEFORE the publish so the rebased head's
    // manifest carries it (restart durability)
    tags.put(bname, Map(ForkTag -> mainHead.version))
    branchForkVersions.put(bname, mainHead.version)
    val rebased = bhead.copy(buckets = new BucketBlocks(blocks), mor = mor,
      version = versions.incrementAndGet())
    publish(bname, rebased)
    rebased.version
  }

  /** Abandon a branch: forget its lineage and GC the files only it
    * referenced (everything main references stays — shared-dir union
    * roots). The audit-failed exit of WAP; main never saw the batch.
    */
  def dropBranch(base: String, branch: String): Boolean = synchronized {
    val bname = branchName(base, branch)
    branchForkVersions.remove(bname)
    firstVersions.remove(bname)
    statColumns.remove(bname)
    dmlModes.remove(bname)
    checks.remove(bname)
    vacuumFloors.remove(bname)
    tags.remove(bname)
    heapOnly.remove(bname)
    appliedTxns.remove(bname)
    val dir = Option(tableDirs.remove(bname))
    val existed = tables.remove(bname) != null
    if (existed) dir.foreach { d =>
      // the branch is being abandoned ON PURPOSE: its manifests must
      // stop acting as (unloaded-lineage) GC roots before the sweep,
      // or the batch's files would be protected forever
      FileStore.deleteManifestsOf(d, bname)
      FileStore.gc(d, retainedVersionsSharing(d), floorSharing(d, except = bname)): Unit
    }
    existed
  }

  /** ROLLBACK: reinstate retained snapshot `toVersion` as the new
    * head — one zero-copy publish (every bucket re-references the old
    * snapshot's arrays/files), the recovery move when a bad batch
    * landed on main without a WAP branch. History is append-only:
    * the bad versions stay retained (audit trail, CDC-diffable) and
    * the rollback itself is a new version whose CDC delta is the
    * INVERSE of what it undoes. Rolling back across a layout change
    * reinstates the old layout under a FRESH layout epoch, so any
    * in-flight write planned against the abandoned head fails its
    * epoch check instead of mis-routing.
    */
  def rollback(name: String, toVersion: Long): Long = synchronized {
    val t = get(name)
    require(t.version != toVersion,
      s"rollback('$name', $toVersion): already the current version")
    val target = history(name).find(_.version == toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"rollback('$name', $toVersion): version not retained " +
          s"(retained: ${history(name).map(_.version).mkString(", ")})"))
    val epoch =
      if (target.layoutEpoch == t.layoutEpoch) t.layoutEpoch else t.layoutEpoch + 1
    val restored = target.copy(version = versions.incrementAndGet(), layoutEpoch = epoch)
    publish(name, restored)
    restored.version
  }

  /** Live branches of `base` (specs/ops). */
  def branchesOf(base: String): Seq[String] = {
    val prefix = base + "#"
    val out = Vector.newBuilder[String]
    tables.forEach((n, _) => if (n.startsWith(prefix)) out += n.stripPrefix(prefix))
    out.result().sorted
  }

  /** Versions retained by EVERY lineage sharing `dir` (a base table
    * and its branches) — the GC root set for that directory.
    *
    * Lineages NOT loaded in this process count too: after a restart
    * that reopened only the base, the branch still exists ON DISK, and
    * its manifests are the only record of which files it needs — so
    * every on-disk manifest whose lineage name is not currently loaded
    * is a root. Loaded lineages are governed by their IN-HEAP retained
    * window (their stale on-disk manifests are exactly what GC exists
    * to collect); a lineage being dropped on purpose deletes its
    * manifests first ([[FileStore.deleteManifestsOf]]), which is what
    * releases its roots.
    */
  private def retainedVersionsSharing(dir: java.nio.file.Path): Set[Long] = {
    val loaded = scala.collection.mutable.Set[String]()
    val b = Set.newBuilder[Long]
    tableDirs.forEach { (n, d) =>
      if (d == dir) {
        val hist = tables.get(n)
        if (hist != null) {
          loaded += n
          hist.foreach(t => b += t.version)
        }
      }
    }
    FileStore.manifestIndex(dir).foreach { case (n, v) =>
      if (!loaded.contains(n)) b += v
    }
    b.result()
  }

  def tagsOf(name: String): Map[String, Long] =
    Option(tags.get(name)).getOrElse(Map.empty)

  private def enforceCheck(name: String, schema: StructType,
      byBucket: Array[Array[Row]]): Unit =
    checkOf(name).foreach { expr =>
      byBucket.foreach(rows => CheckConstraint.validate(name, expr, schema, rows))
    }

  /** Folded views, cached by the BucketMor instance (fresh per bucket
    * per MOR commit, shared across snapshots that share the state) —
    * the same identity discipline [[BucketSkip]] uses, so a folded
    * bucket keeps one array identity across every scan of its
    * snapshot and the skip statistics cache composes with it. Weak
    * keys let vacuumed snapshots' state age out.
    */
  private val foldCache = new java.util.WeakHashMap[BucketMor, FoldedBucket]()

  /** THE merge-on-read fold: live base rows (physical order — which is
    * cluster order for clustered tables) merged with live delta rows,
    * each tagged with its physical position. Lazy and per-bucket: only
    * buckets a scan actually opens pay the fold, once, cached.
    */
  def folded(t: BucketTable, b: Int): FoldedBucket = t.mor.get(b) match {
    case None => FoldedBucket(t.buckets(b), null)
    case Some(m) => foldCache.synchronized {
      var f = foldCache.get(m)
      if (f == null) {
        f = fold(t.schema, t.clusterCol, t.zBounds, t.buckets(b), m, t.zKeyVersion)
        foldCache.put(m, f)
      }
      f
    }
  }

  /** Live rows of bucket `b` in serving order — what every reader,
    * differ, and rewrite op consumes. Clean buckets return the base
    * array itself (identity preserved for the COW/statistics sharing).
    */
  def effectiveRows(t: BucketTable, b: Int): Array[Row] = folded(t, b).rows

  /** Live row count without materializing the fold — or, for a
    * file-backed evicted bucket, without loading it (the manifest
    * carries the count).
    */
  def liveCount(t: BucketTable, b: Int): Int = t.mor.get(b) match {
    case None => t.buckets.rowCount(b)
    case Some(m) => m.liveCount(t.buckets.rowCount(b))
  }

  def liveRowCount(t: BucketTable): Long =
    t.buckets.indices.iterator.map(liveCount(t, _).toLong).sum

  private def fold(schema: StructType, clusterCol: Option[String],
      zBounds: Option[Array[Array[Long]]],
      base: Array[Row], m: BucketMor,
      zKeyVersion: Int = ZOrder.KEY_VERSION): FoldedBucket = {
    val baseRows = Vector.newBuilder[Row]
    val basePos = Vector.newBuilder[Int]
    var i = 0
    while (i < base.length) {
      if (!m.deleted.get(i)) { baseRows += base(i); basePos += i }
      i += 1
    }
    val deltaPairs = m.delta.indices.iterator
      .filter(j => !m.deleted.get(base.length + j))
      .map(j => (m.delta(j), base.length + j)).toArray
    val (bR, bP) = (baseRows.result().toArray, basePos.result().toArray)
    clusterCol match {
      case None =>
        FoldedBucket(bR ++ deltaPairs.map(_._1), bP ++ deltaPairs.map(_._2))
      case c =>
        // live base rows keep their sorted run; sort the live delta and
        // merge — the read-time twin of [[clusterMerge]], positions
        // riding the same permutation (comparator dispatches on the
        // layout: lexicographic or Morton)
        val (key, cmp) = clusterKeyedCmp(schema, c, zBounds, zKeyVersion)
        // keys once per row (Schwartzian, stable) — the sort and the
        // merge loop both re-extracted keys per comparison before r21;
        // the sorted (key, pair) tuples feed the merge arrays directly
        // (r22: the first cut re-called key() per delta row after the
        // sort, ADVICE r21)
        val sorted = deltaPairs.map(p => (key(p._1), p))
          .sortWith((a, b2) => cmp(a._1, b2._1) < 0)
        val sd = new Array[(Row, Int)](sorted.length)
        val sdKeys = new Array[AnyRef](sorted.length)
        var k = 0
        while (k < sorted.length) { sdKeys(k) = sorted(k)._1; sd(k) = sorted(k)._2; k += 1 }
        val bKeys = new Array[AnyRef](bR.length)
        k = 0
        while (k < bR.length) { bKeys(k) = key(bR(k)); k += 1 }
        val n = bR.length + sd.length
        val rows = new Array[Row](n)
        val pos = new Array[Int](n)
        var a = 0
        var d = 0
        var o = 0
        while (a < bR.length && d < sd.length) {
          if (cmp(bKeys(a), sdKeys(d)) <= 0) {
            rows(o) = bR(a); pos(o) = bP(a); a += 1
          } else { rows(o) = sd(d)._1; pos(o) = sd(d)._2; d += 1 }
          o += 1
        }
        while (a < bR.length) { rows(o) = bR(a); pos(o) = bP(a); a += 1; o += 1 }
        while (d < sd.length) { rows(o) = sd(d)._1; pos(o) = sd(d)._2; d += 1; o += 1 }
        FoldedBucket(rows, pos)
    }
  }

  /** AUTO-COMPACTION policy for merge-on-read state — the maintenance
    * story continuous DML needs: without it, delta commits accumulate
    * unboundedly and every read pays ever-growing fold work. After any
    * MoR-growing commit, when the pending state (delta rows + deletion
    * marks) reaches `autoCompactRatioPct` percent of the base rows AND
    * at least `autoCompactMinRows` rows are pending, the commit folds
    * the table down in the same statement (one extra version, exactly
    * what `CALL graft.compact` publishes — the policy just pulls the
    * trigger). The ratio bounds read amplification to a constant
    * factor; the floor keeps small tables from re-materializing on
    * every point DELETE. Delta/Iceberg ship the same knobs as
    * `autoCompact` / commit-count maintenance triggers. Both knobs are
    * `@volatile var`s so a deployment (or spec) can tune them; set
    * `autoCompactRatioPct = Int.MaxValue` to disable.
    */
  @volatile var autoCompactRatioPct: Int = 20
  @volatile var autoCompactMinRows: Int = 4096

  private def morPendingRows(t: BucketTable): Long =
    t.mor.valuesIterator.map(m => m.delta.length.toLong + m.deleted.cardinality().toLong).sum

  /** Fire the auto-compaction policy after a MoR-growing publish (all
    * such paths — [[applyDelta]], [[deleteWhere]]'s merge-on-read
    * branch — call this; object-lock reentrant, same statement).
    */
  private def maybeAutoCompact(name: String, next: BucketTable): Unit = {
    val pending = morPendingRows(next)
    // base rows come from block METADATA (manifest counts) — the old
    // `buckets.iterator.map(_.length)` loaded every bucket into heap
    // just to compute the policy denominator, on EVERY MoR commit
    if (pending >= autoCompactMinRows &&
        pending * 100L >= next.buckets.totalBaseRows * autoCompactRatioPct)
      compact(name): Unit
  }

  /** Commit a row-level DELTA (the merge-on-read write path, driven by
    * [[BucketedDeltaWrite]]): per bucket, positions to hide and rows to
    * add — the publish cost is O(changed rows), the base arrays are
    * SHARED with the previous snapshot by identity (spec-pinned).
    * Positions are relative to the snapshot the rewrite SCANNED, so the
    * commit pins that version: any interleaving commit (which may
    * re-materialize positions) fails the statement loudly — optimistic
    * concurrency, the price of positional deletes.
    */
  def applyDelta(name: String, deletes: Array[Array[Int]], inserts: Array[Array[Row]],
      expectedLayoutEpoch: Long, expectedVersion: Long): Unit = synchronized {
    val t1 = get(name)
    require(deletes.length == t1.buckets.length && inserts.length == t1.buckets.length,
      s"delta planned ${deletes.length}/${inserts.length} buckets but '$name' has " +
        s"${t1.buckets.length}")
    // a z-table whose FIRST rows arrive as delta inserts must freeze
    // its rank boundaries here too — otherwise a later bulk commit
    // freezes them and clusterMerge merges the (raw-interleave-sorted)
    // effective rows under the rank-normalized comparator, silently
    // un-sorting the bucket (pruning tightness only, but permanent)
    val t = if (inserts.exists(_.nonEmpty)) freezeZBounds(t1, inserts.iterator.flatten) else t1
    requireLayoutUnchanged(name, t, expectedLayoutEpoch)
    enforceCheck(name, t.schema, inserts)
    // OPTIMISTIC CONCURRENCY, position-aware: positions address the
    // scanned snapshot's physical layout, but an interleaving commit
    // only invalidates them where it actually moved rows. Per touched
    // bucket: (a) the base array must be the SAME storage (a
    // compaction/rewrite re-materializes positions — conflict); (b)
    // the delta this statement saw must be a PREFIX of the current
    // delta (concurrent delta APPENDS keep earlier positions stable —
    // compose; anything else — conflict); (c) a position this
    // statement deletes must not have been deleted since the scan
    // (the same ROW updated/deleted twice is a genuine write-write
    // conflict — committing would resurrect or double-apply it).
    // Commits interleaving only on OTHER buckets always compose.
    if (t.version != expectedVersion) {
      val base = history(name).find(_.version == expectedVersion).getOrElse(
        throw new ConcurrentWriteException(
          s"row-level delta for '$name' planned against v$expectedVersion, which is no " +
            "longer retained — retry the statement"))
      t.buckets.indices.foreach { b =>
        if (deletes(b).nonEmpty || inserts(b).nonEmpty) {
          def conflict(why: String): Nothing = throw new ConcurrentWriteException(
            s"concurrent commit to '$name' (v$expectedVersion → v${t.version}) $why in " +
              s"bucket $b — positions are snapshot-relative; retry the statement")
          if (!t.buckets.sharesWith(base.buckets, b))
            conflict("re-materialized the base rows")
          val baseDelta = base.mor.get(b).map(_.delta).getOrElse(Array.empty[Row])
          val curDelta = t.mor.get(b).map(_.delta).getOrElse(Array.empty[Row])
          val prefixOk = curDelta.length >= baseDelta.length &&
            baseDelta.indices.forall(i => baseDelta(i) eq curDelta(i))
          if (!prefixOk) conflict("compacted or reordered the delta rows")
          if (deletes(b).nonEmpty) {
            val baseBits = base.mor.get(b).map(_.deleted)
            val curBits = t.mor.get(b).map(_.deleted)
            val doubly = deletes(b).find(p => curBits.exists(_.get(p)) &&
              !baseBits.exists(_.get(p)))
            doubly.foreach(p => conflict(s"deleted/updated the row at position $p too"))
          }
        }
      }
    }
    var newMor = t.mor
    t.buckets.indices.foreach { b =>
      if (deletes(b).nonEmpty || inserts(b).nonEmpty) {
        val old = t.mor.get(b)
        // metadata, not a load: a delta commit against a COLD bucket
        // must not fault its base into heap just to range-check
        // positions — the whole point of the positional-delta path
        val baseLen = t.buckets.rowCount(b)
        val deltaLen = old.map(_.delta.length).getOrElse(0)
        val bits = old.map(_.deleted.clone().asInstanceOf[java.util.BitSet])
          .getOrElse(new java.util.BitSet())
        deletes(b).foreach { p =>
          require(p >= 0 && p < baseLen + deltaLen,
            s"delta delete position $p out of range for bucket $b of '$name' " +
              s"(${baseLen + deltaLen} physical rows)")
          bits.set(p)
        }
        val delta = old.map(_.delta).getOrElse(Array.empty[Row]) ++ inserts(b)
        newMor = newMor.updated(b, BucketMor(bits, delta))
      }
    }
    val next = t.copy(mor = newMor, version = versions.incrementAndGet())
    publish(name, next)
    maybeAutoCompact(name, next)
  }

  /** Fold every pending deletion vector / delta back into clean bucket
    * arrays under ONE new version — the maintenance op that converts
    * accumulated read amplification back to zero ([[folded]] caching
    * bounds it between compactions). Returns the number of buckets
    * materialized; publishes nothing when there is nothing to fold.
    */
  def compact(name: String): Int = synchronized {
    val t = get(name)
    if (t.mor.isEmpty) 0
    else {
      val touched = t.mor.size
      // retaining rewrite: only buckets WITH pending state materialize
      // their fold; clean buckets keep their block — same instance,
      // same file, never loaded. Compacting one trickle-updated bucket
      // of a cold 100 TB table folds that bucket, not the table (the
      // old tabulate loaded every clean bucket just to republish it).
      val rows = t.buckets.mapRetaining(b =>
        if (t.mor.contains(b)) Some(effectiveRows(t, b)) else None)
      publish(name, t.copy(buckets = rows, mor = Map.empty,
        version = versions.incrementAndGet()))
      touched
    }
  }

  /** Cluster-order maintenance for APPEND-shaped publishes: the stored
    * bucket is already sorted (the publish invariant), so sort only
    * the DELTA and linear-merge — O(|bucket| + |delta|·log|delta|)
    * instead of re-sorting the bucket. At 100 TB this is the
    * difference between an ingest paying for its batch and paying for
    * the table. Ties take old rows first, byte-identical to what the
    * stable full sort of `old ++ add` produced. Short (pre-ALTER) rows
    * read the cluster key as NULL, matching [[clusterSort]]/the fetch
    * path's padding.
    */
  private def clusterMerge(schema: StructType, clusterCol: Option[String],
      old: Array[Row], add: Array[Row],
      zBounds: Option[Array[Array[Long]]] = None,
      zKeyVersion: Int = ZOrder.KEY_VERSION): Array[Row] =
    clusterCol match {
      case None => old ++ add
      case c =>
        val (key, cmp) = clusterKeyedCmp(schema, c, zBounds, zKeyVersion)
        val sortedAdd = clusterSort(schema, clusterCol, add, zBounds, zKeyVersion)
        // keys once per ROW on both sides — the merge loop re-extracted
        // both keys every iteration before round 21
        val oldKeys = new Array[AnyRef](old.length)
        var i = 0
        while (i < old.length) { oldKeys(i) = key(old(i)); i += 1 }
        val addKeys = new Array[AnyRef](sortedAdd.length)
        i = 0
        while (i < sortedAdd.length) { addKeys(i) = key(sortedAdd(i)); i += 1 }
        val out = new Array[Row](old.length + sortedAdd.length)
        var a = 0
        var b = 0
        var o = 0
        while (a < old.length && b < sortedAdd.length) {
          if (cmp(oldKeys(a), addKeys(b)) <= 0) {
            out(o) = old(a); a += 1
          } else { out(o) = sortedAdd(b); b += 1 }
          o += 1
        }
        while (a < old.length) { out(o) = old(a); a += 1; o += 1 }
        while (b < sortedAdd.length) { out(o) = sortedAdd(b); b += 1; o += 1 }
        out
    }

  /** Load from parquet if not already present (the common gated-query
    * path: model "the external cluster already holds this table").
    */
  def ensureLoaded(spark: SparkSession, name: String, dir: String, table: String,
      keyCol: String, numBuckets: Int, clusterBy: Option[String] = None,
      replicate: Boolean = false): Unit = {
    val key = s"$name"
    if (!tables.containsKey(key)) synchronized {
      if (!tables.containsKey(key)) {
        // events needs the nanos-aware loader (raw parquet read throws
        // PARQUET_TYPE_ILLEGAL on its TIMESTAMP(NANOS) column)
        val df =
          if (table == "events") graft.tables.Tables.events(spark, dir)
          else graft.tables.Tables.load(spark, dir, table)
        load(spark, key, df, keyCol, numBuckets, clusterBy = clusterBy, replicate = replicate)
      }
    }
  }

  def exists(name: String): Boolean = tables.containsKey(name)

  /** All table names currently in the store (catalog SHOW TABLES). */
  def tableNames(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.keySet().asScala.toSeq.sorted
  }

  /** Catalog CREATE TABLE: install an empty table (schema + layout, no
    * rows) under a fresh version. Fails loudly if the name is taken.
    */
  def createEmpty(name: String, schema: StructType, keyCol: String, numBuckets: Int,
      nHosts: Int = 4, clusterBy: Option[String] = None,
      replicate: Boolean = false): Unit = {
    require(schema.fieldNames.contains(keyCol),
      s"bucket key '$keyCol' not in schema [${schema.fieldNames.mkString(", ")}]")
    clusterColsOf(clusterBy).foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column '$c' not in schema [${schema.fieldNames.mkString(", ")}]"))
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(!replicate || numBuckets == 1,
      s"a replicated table has exactly ONE logical bucket (every host holds it); got $numBuckets")
    // under the publish lock: a concurrent load()'s read-modify-write
    // of the history vector must not interleave with this putIfAbsent
    // (it would silently replace the created table)
    synchronized {
      val empty = BucketTable(schema, keyCol,
        Array.fill(numBuckets)(Array.empty[Row]),
        if (replicate) Array(fleetOf(nHosts))
        else Array.tabulate(numBuckets)(hostsFor(_, nHosts)),
        versions.incrementAndGet(),
        clusterBy,
        commitTs = nextStamp(),
        replicated = replicate)
      val prev = tables.putIfAbsent(name, Vector(empty))
      require(prev == null, s"BucketStore table '$name' already exists")
      firstVersions.putIfAbsent(name, empty.version)
      ()
    }
  }

  /** Re-bucket `name` into `numBuckets` buckets under ONE new version
    * — the operational tool for a table that outgrew its layout (too
    * few buckets → giant partitions; too many → tiny fetches). Every
    * current row is re-hashed with the same bucket function loads and
    * writes use, cluster order is re-established per new bucket, and
    * the new layout publishes atomically: readers see the old layout
    * or the new one, pinned scans keep reading their snapshot. CDC
    * windows SPANNING the boundary are not diffable (per-bucket diffs
    * are meaningless across layouts) and keep failing loudly in
    * [[CdcPlanner]]; consumers restart their window at the rebucket
    * version. At 100 TB this is a full-table shuffle by design — the
    * one-off cost of fixing a layout, paid under MVCC so reads never
    * block.
    */
  def rebucket(name: String, numBuckets: Int, hrw: Boolean = false): Long = synchronized {
    require(numBuckets > 0, s"rebucket('$name'): numBuckets must be positive, got $numBuckets")
    val t = get(name)
    // same-count rebucket is a no-op ONLY when the placement function
    // is unchanged; from a range layout (or across the mod↔HRW
    // boundary) it is the documented way to change layouts at any
    // count
    require(numBuckets != t.buckets.length || t.rangeBounds.isDefined || hrw != t.hrw,
      s"rebucket('$name'): table already has $numBuckets " +
        s"${if (t.hrw) "HRW" else "hash"} buckets")
    // preserve the table's host-fleet size: regenerating with a
    // default would silently shrink preferredLocations to a subset of
    // the fleet. Hosts are synthetic 'host-<i>' names; the max index
    // observed recovers the fleet exactly whenever numBuckets ≥
    // nHosts−1 (the realistic regime — more buckets than hosts), and
    // never shrinks below what the table actually used.
    val nHosts = t.hosts.iterator.flatten
      .map(_.stripPrefix("host-").toInt).max + 1
    val keyIdx = t.schema.fieldIndex(t.keyCol)
    val keyType = t.schema(keyIdx).dataType
    def keyOf(r: Row): Any =
      if (keyIdx >= r.size || r.isNullAt(keyIdx)) null else r.get(keyIdx)
    val buckets: Array[Array[Row]] =
      if (t.hrw && hrw && t.rangeBounds.isEmpty) {
        // HRW → HRW resize: the MINIMAL-MOVEMENT path. Only rows
        // whose argmax winner changed leave their bucket (on grow,
        // provably only TO new buckets — see [[hrwBucketFor]]); a
        // bucket that loses no row, receives no row, and has no
        // pending MoR state keeps its array BY IDENTITY — at 100 TB
        // that is "this file set is untouched, publish the old
        // manifest entry", the whole point of rendezvous layouts vs
        // mod-rehash's ~(1 − 1/m) full rewrite (the q229 numbers,
        // now enforced by RebucketHrwSpec).
        val kept = Array.fill(numBuckets)(Vector.newBuilder[Row])
        val arrived = Array.fill(numBuckets)(false)
        val lost = Array.fill(t.buckets.length)(false)
        t.buckets.indices.foreach { src =>
          effectiveRows(t, src).foreach { r =>
            val b = routeBucket(None, keyType, numBuckets, keyOf(r), hrw = true)
            if (b == src) kept(b) += r
            else {
              if (src < numBuckets) lost(src) = true
              arrived(b) = true
              kept(b) += r
            }
          }
          if (src >= numBuckets) lost(src) = true // shrink: bucket dissolved
        }
        Array.tabulate(numBuckets) { b =>
          val untouched = b < t.buckets.length && !lost(b) && !arrived(b) &&
            !t.mor.contains(b)
          if (untouched) t.buckets(b)
          else clusterSort(t.schema, t.clusterCol, kept(b).result().toArray, t.zBounds,
            t.zKeyVersion)
        }
      } else {
        // layout CHANGE (mod↔HRW, range→either, or mod resize): the
        // placement function itself moved, so this is the documented
        // full-table shuffle — one-off cost, paid under MVCC
        val byBucket = Array.fill(numBuckets)(Vector.newBuilder[Row])
        t.buckets.indices.foreach(src => effectiveRows(t, src).foreach { r =>
          byBucket(routeBucket(None, keyType, numBuckets, keyOf(r), hrw)) += r
        })
        byBucket.map(v => clusterSort(t.schema, t.clusterCol, v.result().toArray, t.zBounds,
          t.zKeyVersion))
      }
    val next = t.copy(
      buckets = buckets,
      hosts = Array.tabulate(numBuckets)(hostsFor(_, nHosts)),
      version = versions.incrementAndGet(),
      // re-hashing DESTROYS a range layout: clearing the bounds here is
      // load-bearing (stale bounds would mis-route every future write)
      rangeBounds = None,
      layoutEpoch = t.layoutEpoch + 1,
      mor = Map.empty, // a full rewrite materializes pending deltas
      replicated = false, // hash-distributing IS de-replication
      hrw = hrw)
    publish(name, next)
    next.version
  }

  /** Operational topology change: replace one bucket's replica list
    * (host decommission / rebalancer move) under a new version — the
    * scan planned after it sees the new placement, a scan pinned
    * before it keeps the old one (placement is snapshot state like
    * everything else). An EMPTY list models the orphan-bucket
    * topology: the planner then offers the table's whole fleet as
    * candidates ([[BucketSplits.plan]]), mirroring the reference's
    * all-known-URLs fallback (SnappyDataConnectorHelper.scala:186-193).
    */
  def reassignHosts(name: String, bucket: Int, newHosts: Seq[String]): Unit = synchronized {
    val t = get(name)
    require(bucket >= 0 && bucket < t.hosts.length,
      s"reassignHosts('$name'): bucket $bucket out of range [0, ${t.hosts.length})")
    publish(name, t.copy(hosts = t.hosts.updated(bucket, newHosts),
      version = versions.incrementAndGet()))
  }

  /** Owning bucket under a RANGE layout: binary search of the sorted
    * boundary array in the key type's [[KeyOrder]], the order scans
    * prune by, so routing and zone-map pruning can never disagree.
    * Nulls sort first → bucket 0.
    */
  def rangeBucketFor(bounds: Array[Any], keyType: DataType, v: Any): Int = {
    if (v == null) return 0
    val ord = KeyOrder.of(keyType)
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.compare(v, bounds(mid)) <= 0) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Route a key to its owning bucket under a layout — THE routing
    * choke point: [[BucketedDataWriter]] (batch, streaming, upsert,
    * row-level rewrites), [[rebucket]], and [[repartitionRange]] all
    * route through here, so a layout's ownership rule has exactly one
    * definition.
    */
  def routeBucket(rangeBounds: Option[Array[Any]], keyType: DataType, numBuckets: Int, v: Any,
      hrw: Boolean = false): Int =
    rangeBounds match {
      case Some(bounds) =>
        require(bounds.length == numBuckets - 1,
          s"range layout has ${bounds.length} boundaries for $numBuckets buckets — " +
            "the table was re-laid-out between write planning and execution")
        rangeBucketFor(bounds, keyType, v)
      case None if hrw => hrwBucketFor(v, numBuckets).getOrElse(
        throw new UnsupportedOperationException(
          s"bucket key value $v is not hash-bucketable"))
      case None => BucketFunction.bucketFor(v, numBuckets).getOrElse(
        throw new UnsupportedOperationException(
          s"bucket key value $v is not hash-bucketable"))
    }

  /** splitmix64's finalizer over (keyHash, bucket) — the per-(key,
    * bucket) independent score HRW argmaxes. Any such family works;
    * splitmix is chosen because its avalanche is proven and the JVM
    * fold is 5 ops.
    */
  private def hrwScore(keyHash: Long, bucket: Int): Long = {
    var z = (keyHash ^ (bucket.toLong * 0xC2B2AE3D27D4EB4FL)) + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The HRW owner of a key value: argmax over buckets of
    * [[hrwScore]], ties to the smaller bucket. Same key-hash domain
    * as [[BucketFunction.bucketFor]] ([[BucketFunction.keyHash32]]:
    * Murmur3 seed 42 on integrals, UTF-8 string bytes, epoch-day
    * dates; the seed itself for null) so HRW and mod layouts disagree
    * only in the placement function, never in what is routable.
    * `None` for unroutable key types — callers must not prune then,
    * exactly like the mod path.
    *
    * THE resize-stability property (the q229 invariant, now a store
    * guarantee): argmax over a SUPERSET of buckets differs from the
    * argmax over the subset only when the winner is one of the added
    * buckets — so growing n → m moves a key iff its new owner is
    * ≥ n, and every moved key moves TO a new bucket ("zero illegal
    * moves"). Cost is O(numBuckets) per key vs mod's O(1) — real but
    * trivial against a write's I/O, and only HRW tables pay it.
    */
  def hrwBucketFor(value: Any, numBuckets: Int): Option[Int] = {
    // the SAME Murmur3 seed-42 key domain as the mod path — longs,
    // ints, UTF-8 string bytes, epoch-day dates, null-as-seed — so the
    // two layouts disagree only in placement, never in routability
    val keyHash: Option[Long] = BucketFunction.keyHash32(value).map(_.toLong)
    keyHash.map { h =>
      var best = 0
      var bestScore = hrwScore(h, 0)
      var b = 1
      while (b < numBuckets) {
        val s = hrwScore(h, b)
        if (s > bestScore) { best = b; bestScore = s }
        b += 1
      }
      best
    }
  }

  /** Switch `name` to a RANGE layout on its bucket key under ONE MVCC
    * version: boundaries are the equal-frequency quantiles of the
    * CURRENT key distribution, every row re-routes by binary search,
    * and each bucket re-sorts on the key (clusterCol := key) — so a
    * range predicate prunes to the owning buckets (zone maps see
    * disjoint min/max) AND binary-searches inside them
    * ([[ClusterRange]]): I/O ∝ answer at both granularities, the
    * classic time-series layout. The one-off full shuffle twin of
    * [[rebucket]]; co-partitioned joins stop being reported (range
    * tables don't satisfy Spark's hash transform) — the scan declares
    * unknown partitioning instead of lying.
    */
  def repartitionRange(name: String, numBuckets: Int): Long = synchronized {
    require(numBuckets > 0,
      s"repartition_range('$name'): numBuckets must be positive, got $numBuckets")
    val t = get(name)
    val keyIdx = t.schema.fieldIndex(t.keyCol)
    def keyOf(r: Row): Any = if (keyIdx >= r.size || r.isNullAt(keyIdx)) null else r.get(keyIdx)
    val keys = t.buckets.indices.iterator
      .flatMap(effectiveRows(t, _)).map(keyOf).filter(_ != null).toArray
    require(keys.nonEmpty,
      s"repartition_range('$name'): cannot derive range boundaries from an empty table")
    val keyType = t.schema(keyIdx).dataType
    val ord = KeyOrder.of(keyType)
    val sorted = keys.sortWith((a, b) => ord.compare(a, b) < 0)
    // boundary = LAST element of each quantile block (upper bounds are
    // inclusive), so an exactly-divisible distribution splits evenly
    val bounds: Array[Any] = Array.tabulate(numBuckets - 1) { i =>
      sorted(math.max(0, math.min(sorted.length - 1,
        (((i + 1).toLong * sorted.length) / numBuckets).toInt - 1)))
    }
    val byBucket = Array.fill(numBuckets)(Vector.newBuilder[Row])
    t.buckets.indices.foreach(src => effectiveRows(t, src).foreach(r =>
      byBucket(routeBucket(Some(bounds), keyType, numBuckets, keyOf(r))) += r))
    val nHosts = t.hosts.iterator.flatten
      .map(_.stripPrefix("host-").toInt).max + 1
    val buckets = byBucket.map(v => clusterSort(t.schema, Some(t.keyCol), v.result().toArray))
    val next = t.copy(
      buckets = buckets,
      hosts = Array.tabulate(numBuckets)(hostsFor(_, nHosts)),
      version = versions.incrementAndGet(),
      clusterCol = Some(t.keyCol),
      rangeBounds = Some(bounds),
      layoutEpoch = t.layoutEpoch + 1,
      mor = Map.empty,
      zBounds = None) // the range layout clusters on the key, not a curve
    publish(name, next)
    next.version
  }

  /** Re-cluster `name` on `col` under ONE new version: every bucket's
    * rows re-sort on the new cluster column and all FUTURE publishes
    * maintain that order — range predicates on `col` then fetch
    * binary-searched slices ([[ClusterRange]]) instead of streaming
    * buckets. The operational twin of [[rebucket]] for the ORDER
    * dimension of the layout: pay one in-bucket sort (no shuffle — rows
    * never change buckets), serve time/range queries ∝ answer after.
    */
  def recluster(name: String, col: String): Long = synchronized {
    val t = get(name)
    val cols = clusterColsOf(Some(col))
    require(cols.nonEmpty, s"recluster('$name'): empty cluster key")
    cols.foreach(c => require(t.schema.fieldNames.contains(c),
      s"recluster('$name'): column '$c' not in schema " +
        s"[${t.schema.fieldNames.mkString(", ")}]"))
    require(clusterColsOf(t.clusterCol) != cols ||
        isZOrder(t.clusterCol) != isZOrder(Some(col)),
      s"recluster('$name'): table is already clustered on '$col'")
    // normalize rows predating an ADD COLUMN to current arity first:
    // the sort key may BE the added column, and the comparator indexes
    // into the row (this is a rewrite op anyway — materializing the
    // NULL pads here is the honest cost)
    val padded = t.buckets.indices.toArray.map(b =>
      effectiveRows(t, b).map(pad(_, t.schema.length)))
    // a re-cluster is a full rewrite, so a z-spec gets FRESH rank
    // boundaries from the data as it stands (the one sanctioned
    // boundary change — every run re-sorts under them right here);
    // a lexicographic target clears any stale z state
    val newBounds =
      if (isZOrder(Some(col))) {
        val zIdxs = clusterColsOf(Some(col)).map(t.schema.fieldIndex).toArray
        Some(ZOrder.boundsForRows(padded.iterator.flatten, zIdxs,
          ZOrder.keyFns(t.schema, zIdxs, ZOrder.KEY_VERSION)))
      } else None
    // a full re-sort is the one sanctioned key-space UPGRADE point:
    // the rewrite sorts under the CURRENT key functions, so the table
    // leaves any legacy zKeyVersion behind here
    val next = t.copy(
      buckets = padded.map(clusterSort(t.schema, Some(col), _, newBounds,
        ZOrder.KEY_VERSION)),
      clusterCol = Some(col),
      version = versions.incrementAndGet(),
      mor = Map.empty,
      zBounds = newBounds,
      zKeyVersion = ZOrder.KEY_VERSION)
    publish(name, next)
    next.version
  }

  /** Re-freeze a z-ordered table's rank boundaries from the data AS IT
    * STANDS and re-sort every bucket under them — the drift-refresh
    * maintenance op (`CALL graft.reorder`). Boundaries freeze at the
    * first data commit and correctness never depends on them (zone
    * maps come from actual rows), but under heavy appends from a
    * DRIFTED distribution the frozen equi-depth slabs skew — most new
    * rows collapse into the top rank of each dimension, blocks in the
    * drifted region stop separating on the curve, and pruning
    * tightness quietly decays. This is the z-layout's analog of
    * [[repartitionRange]]'s boundary re-derivation and of the periodic
    * re-OPTIMIZE a Delta/Iceberg z-ordered table schedules. In-bucket
    * rewrite only: bucket ASSIGNMENT is untouched, so the layout epoch
    * is NOT bumped (open CDC readers and planned writes stay valid) —
    * at 100 TB each storage node re-sorts its own buckets with no
    * shuffle, cost ∝ table like any compaction, scheduled off-peak.
    */
  def reorder(name: String): Long = synchronized {
    val t = get(name)
    require(isZOrder(t.clusterCol),
      s"reorder('$name'): table is not z-ordered " +
        s"(cluster spec: ${t.clusterCol.getOrElse("none")}) — reorder refreshes z rank " +
        "boundaries; use recluster to change the layout itself")
    val padded = t.buckets.indices.toArray.map(b =>
      effectiveRows(t, b).map(pad(_, t.schema.length)))
    val idxs = clusterColsOf(t.clusterCol).map(t.schema.fieldIndex).toArray
    val bs = ZOrder.boundsForRows(padded.iterator.flatten, idxs,
      ZOrder.keyFns(t.schema, idxs, ZOrder.KEY_VERSION))
    // an empty table has nothing to sample: keep the existing bounds
    // (and, with them, the existing key version — nothing re-sorted)
    val newBounds = if (bs.forall(_.isEmpty)) t.zBounds else Some(bs)
    val upgraded = !bs.forall(_.isEmpty)
    val next = t.copy(
      buckets = padded.map(clusterSort(t.schema, t.clusterCol, _, newBounds,
        if (upgraded) ZOrder.KEY_VERSION else t.zKeyVersion)),
      version = versions.incrementAndGet(),
      mor = Map.empty,
      zBounds = newBounds,
      zKeyVersion = if (upgraded) ZOrder.KEY_VERSION else t.zKeyVersion)
    publish(name, next)
    next.version
  }

  /** Keyed upsert publish (the update-mode streaming sink,
    * [[BucketedStreamingWrite]]): for every bucket that RECEIVED rows,
    * replace same-key rows with the delivered ones (latest wins) and
    * append the rest; buckets receiving nothing SHARE their row array
    * with the previous snapshot. An epoch whose changed keys own k
    * buckets therefore rewrites exactly those ≤ k buckets — the
    * scale-honest MV refresh (complete-mode republish rewrites the
    * whole table every epoch regardless of churn).
    */
  def upsertRows(name: String, byBucket: Array[Array[Row]],
      expectedLayoutEpoch: Long, txn: Option[(String, Long)] = None): Unit = synchronized {
    if (txnAlreadyApplied(name, txn)) return
    val t0 = get(name)
    require(byBucket.length == t0.buckets.length,
      s"upsert into '$name': got ${byBucket.length} buckets, table has ${t0.buckets.length}")
    requireLayoutUnchanged(name, t0, expectedLayoutEpoch)
    enforceCheck(name, t0.schema, byBucket)
    val t = freezeZBounds(t0, byBucket.iterator.flatten)
    val keyIdx = t.schema.fieldIndex(t.keyCol)
    val rows = t.buckets.zipWithIndex.map { case (base, b) =>
      val incoming = byBucket(b)
      if (incoming.isEmpty) base // untouched bucket: same array reference
      else {
        // a rewritten bucket folds pending MOR state first (clean
        // buckets: identity pass-through)
        val old = effectiveRows(t, b)
        // latest wins WITHIN the batch too: a key delivered twice in
        // one epoch keeps only its last row — otherwise both would
        // append and the keyed table silently grows duplicate keys
        val lastPerKey = new scala.collection.mutable.HashMap[Any, Int]()
        incoming.zipWithIndex.foreach { case (r, i) => lastPerKey(r.get(keyIdx)) = i }
        val deduped = incoming.zipWithIndex.collect {
          case (r, i) if lastPerKey(r.get(keyIdx)) == i => r
        }
        val newKeys = lastPerKey.keySet
        // survivors keep their sorted order (filter preserves it); only
        // the delivered rows need sorting before the merge
        clusterMerge(t.schema, t.clusterCol,
          old.filterNot(r => newKeys.contains(r.get(keyIdx))), deduped, t.zBounds,
          t.zKeyVersion)
      }
    }
    recordTxnAndPublish(name, txn,
      t.copy(buckets = rows, version = versions.incrementAndGet(),
        mor = t.mor.filter { case (b, _) => byBucket(b).isEmpty }))
  }

  /** Freeze a z-layout's rank boundaries at its FIRST data commit:
    * equi-depth split points per z-dimension over the incoming rows
    * ([[ZOrder.boundsForRows]]). Frozen because the Morton order must
    * stay a pure function of the row — later appends merge against
    * runs sorted under these bounds, and a changed rank map would
    * break the merge invariant. Later data drifting from the first
    * commit's distribution costs pruning tightness only, never
    * answers (zone maps are computed from the actual rows). No-op
    * for non-z layouts, already-frozen tables, and empty commits.
    */
  private def freezeZBounds(t: BucketTable, incoming: => Iterator[Row]): BucketTable =
    if (!isZOrder(t.clusterCol) || t.zBounds.isDefined) t
    else {
      val idxs = clusterColsOf(t.clusterCol).map(t.schema.fieldIndex).toArray
      val bs = ZOrder.boundsForRows(incoming.map(pad(_, t.schema.length)), idxs,
        ZOrder.keyFns(t.schema, idxs, t.zKeyVersion))
      if (bs.forall(_.isEmpty)) t else t.copy(zBounds = Some(bs))
    }

  /** The write-path twin of the CDC layoutEpoch gate: a bucket-
    * ASSIGNMENT change (rebucket, repartition_range) committed between
    * write planning and commit leaves the writer's captured routing
    * (rangeBounds / hash) stale. A DIFFERENT bucket count trips the
    * length require above, but a SAME-count layout change is invisible
    * to it — rows staged under the old layout would silently land in
    * buckets the new layout does not own (reads then miss them;
    * upserts can duplicate keys). Writers capture the epoch at
    * `build()` and every commit path must present it here.
    */
  private def requireLayoutUnchanged(name: String, t: BucketTable, expected: Long): Unit =
    require(t.layoutEpoch == expected,
      s"write into '$name' planned at layout epoch $expected but the table is now at epoch " +
        s"${t.layoutEpoch} — the bucket layout changed (rebucket/repartition_range) between " +
        "write planning and commit; rows routed by the old layout would be silently " +
        "mis-placed. Re-run the write against the new layout.")

  /** Catalog DROP TABLE — removes the table AND its whole MVCC history.
    * Under the publish monitor: a drop racing a concurrent publish's
    * read-modify-write (`tables.getOrDefault … tables.put`) could
    * otherwise resurrect the dropped table with its full history, and
    * `firstVersions`/`tables` must go together or a re-CREATE inherits
    * the stale first-version floor.
    */
  def drop(name: String): Boolean = synchronized {
    val i = name.indexOf('#')
    if (i >= 0) dropBranch(name.substring(0, i), name.substring(i + 1))
    else {
      // a base drop takes its branches with it — the directory goes away
      branchesOf(name).foreach { br =>
        val bname = branchName(name, br)
        branchForkVersions.remove(bname)
        firstVersions.remove(bname)
        statColumns.remove(bname)
        dmlModes.remove(bname)
        checks.remove(bname)
        vacuumFloors.remove(bname)
        tags.remove(bname)
        heapOnly.remove(bname)
        appliedTxns.remove(bname)
        tableDirs.remove(bname)
        tables.remove(bname)
        refreshPolicies.remove(bname)
        lastStalenessCheck.remove(bname)
      }
      refreshPolicies.remove(name)
      lastStalenessCheck.remove(name)
      firstVersions.remove(name)
      statColumns.remove(name)
      dmlModes.remove(name)
      checks.remove(name)
      vacuumFloors.remove(name)
      tags.remove(name)
      heapOnly.remove(name)
      appliedTxns.remove(name)
      Option(tableDirs.remove(name)).foreach(FileStore.dropDir)
      tables.remove(name) != null
    }
  }

  /** Forget a table's HEAP state only — files and manifests stay on
    * disk, ready for [[openFromDisk]]. This is the in-process stand-in
    * for a JVM restart (spec/ops hook); contrast [[drop]], which
    * deletes the directory too.
    */
  def unload(name: String): Option[java.nio.file.Path] = synchronized {
    firstVersions.remove(name)
    statColumns.remove(name)
    dmlModes.remove(name)
    checks.remove(name)
    vacuumFloors.remove(name)
    tags.remove(name)
    heapOnly.remove(name)
    appliedTxns.remove(name)
    tables.remove(name)
    Option(tableDirs.remove(name))
  }

  /** Job-level atomic publish for the DSv2 write path: merge the
    * tasks' per-bucket rows into the table under ONE new version —
    * readers see the old snapshot or the new one, never a torn write
    * (aborted jobs publish nothing; [[BucketedBatchWrite.commit]] is
    * the only caller). `truncate` = replace rows (overwrite); else
    * append to the existing buckets. Buckets receiving no rows share
    * their array with the previous snapshot (MVCC retention stays
    * cheap).
    */
  def commitWrite(name: String, byBucket: Array[Array[Row]], truncate: Boolean,
      expectedLayoutEpoch: Long, txn: Option[(String, Long)] = None): Unit =
    synchronized {
      // idempotent replay (txnappid/txnversion): an already-applied
      // batch commits NOTHING — the retry contract
      if (txnAlreadyApplied(name, txn)) return
      val t0 = get(name)
      require(byBucket.length == t0.buckets.length,
        s"write planned ${byBucket.length} buckets but '$name' has ${t0.buckets.length}")
      requireLayoutUnchanged(name, t0, expectedLayoutEpoch)
      enforceCheck(name, t0.schema, byBucket)
      val t = freezeZBounds(t0, byBucket.iterator.flatten)
      val rows: BucketBlocks =
        if (truncate)
          // per-bucket sorts are independent (pure key extraction +
          // stable sort) — run them on the spill pool, the commit-point
          // analog of write tasks each sorting their own bucket. A
          // full-table clustered load paid 16 sequential sorts under
          // the commit lock before round 21.
          BucketBlocks.fromArrays {
            if (t.clusterCol.isEmpty || byBucket.count(_.nonEmpty) <= 1)
              byBucket.map(clusterSort(t.schema, t.clusterCol, _, t.zBounds, t.zKeyVersion))
            else {
              // INVARIANT (r22, ADVICE r21): this join happens while the
              // caller holds the global BucketStore monitor, so pool
              // tasks submitted here must NEVER enter
              // BucketStore.synchronized — pure key extraction + sort
              // only, or the commit deadlocks against its own workers.
              val out = new Array[Array[Row]](byBucket.length)
              val futures = byBucket.indices.map { b =>
                FileStore.spillPool.submit(new java.util.concurrent.Callable[Unit] {
                  override def call(): Unit =
                    out(b) = clusterSort(t.schema, t.clusterCol, byBucket(b),
                      t.zBounds, t.zKeyVersion)
                })
              }
              // propagate the FIRST failure loudly, unwrapped from the
              // pool's ExecutionException so callers see the real error
              futures.foreach { f =>
                try f.get()
                catch {
                  case e: java.util.concurrent.ExecutionException =>
                    throw Option(e.getCause).getOrElse(e)
                }
              }
              out
            }
          }
        else t.buckets.mapRetaining { b =>
          // clustered-index maintenance on ingest: only buckets that
          // received rows change, and each pays a DELTA sort + linear
          // merge, never a full re-sort ([[clusterMerge]]). A bucket
          // with pending MOR state folds it first. Buckets receiving
          // NO rows RETAIN their block (round 17): same instance, same
          // backing file, never loaded — appending one row to a cold
          // 100 TB table faults exactly the one receiving bucket, not
          // the table (the old zipWithIndex path materialized every
          // bucket's rows just to hand them back).
          if (byBucket(b).isEmpty) None
          else Some(clusterMerge(t.schema, t.clusterCol, effectiveRows(t, b), byBucket(b),
            t.zBounds, t.zKeyVersion))
        }
      val mor =
        if (truncate) Map.empty[Int, BucketMor]
        else t.mor.filter { case (b, _) => byBucket(b).isEmpty }
      // record BEFORE the publish so the version's own manifest carries
      // the high-water mark (same-commit durability); rolled back if
      // the publish fails, so a retry is never a silent no-op
      recordTxnAndPublish(name, txn,
        t.copy(buckets = rows, version = versions.incrementAndGet(), mor = mor))
    }

  /** Row-level DELETE: drop the rows matching `pred` from every bucket
    * under one new version (same atomic-publish discipline as
    * [[commitWrite]]). Untouched buckets share their array with the
    * previous snapshot. Returns the number of rows deleted.
    */
  def deleteWhere(name: String, pred: Row => Boolean): Long = synchronized {
    val t = get(name)
    var deleted = 0L
    if (dmlModeOf(name) == MergeOnRead) {
      // merge-on-read DELETE: set deletion-vector bits at the matching
      // rows' PHYSICAL positions — the publish is O(matches) bits and
      // every base array is shared with the previous snapshot
      var newMor = t.mor
      t.buckets.indices.foreach { b =>
        val f = folded(t, b)
        var bits: java.util.BitSet = null
        var i = 0
        while (i < f.rows.length) {
          if (pred(pad(f.rows(i), t.schema.length))) {
            if (bits == null)
              bits = t.mor.get(b).map(_.deleted.clone().asInstanceOf[java.util.BitSet])
                .getOrElse(new java.util.BitSet())
            bits.set(f.posOf(i))
            deleted += 1
          }
          i += 1
        }
        if (bits != null)
          newMor = newMor.updated(b,
            BucketMor(bits, t.mor.get(b).map(_.delta).getOrElse(Array.empty[Row])))
      }
      val next = t.copy(mor = newMor, version = versions.incrementAndGet())
      publish(name, next)
      maybeAutoCompact(name, next)
    } else {
      val kept = t.buckets.indices.toArray.map { b =>
        val rows = effectiveRows(t, b)
        val keep = rows.filterNot { r =>
          // pred evaluates against the CURRENT schema; rows predating an
          // ADD COLUMN are shorter and pad with NULL (stored form kept)
          val d = pred(pad(r, t.schema.length))
          if (d) deleted += 1
          d
        }
        if (keep.length == rows.length) rows else keep
      }
      publish(name, t.copy(buckets = kept, mor = Map.empty,
        version = versions.incrementAndGet()))
    }
    deleted
  }

  /** What a statistics-driven DELETE did to each class of bucket —
    * the spec surface proving the fast paths fired. `rowsEvaluated`
    * counts predicate evaluations: dropped and untouched buckets
    * contribute ZERO (that's the point).
    */
  final case class DeleteOutcome(droppedBuckets: Int, untouchedBuckets: Int,
      scannedBuckets: Int, rowsDeleted: Long, rowsEvaluated: Long)

  /** Outcome of the most recent [[deleteWhereFiltered]] per table —
    * observability for the gate/spec (the SQL `DELETE` surface returns
    * nothing).
    */
  private val lastDeleteOutcomes = new ConcurrentHashMap[String, DeleteOutcome]()
  def lastDeleteOutcome(name: String): Option[DeleteOutcome] =
    Option(lastDeleteOutcomes.get(name))

  /** Statistics-driven row-level DELETE (the `DELETE FROM … WHERE`
    * path, [[BucketedTable.deleteWhere]]): classify every bucket
    * against the pushed conjunction using the SAME commit-time zone
    * maps the scan prunes with —
    *
    *   - stats prove NO row matches  → untouched: the bucket keeps its
    *     array (and so its backing file) BY IDENTITY; zero rows read;
    *   - stats prove EVERY row matches ([[BucketSkip.mustMatchAll]])
    *     → dropped whole: published as an empty bucket, zero rows
    *     read — in file mode the version's manifest simply stops
    *     referencing the bucket's file;
    *   - otherwise → the straddler pays the row scan (the only rows
    *     evaluated in the whole statement).
    *
    * On a range/clustered layout this turns a retention delete
    * (`WHERE ts < cutoff` over years of history) into a manifest edit
    * plus a scan of the ONE boundary bucket — the Iceberg
    * metadata-delete / Delta partition-delete shape, and the single
    * most common DML on a 100 TB corpus. Merge-on-read tables take the
    * same fast paths (a full-bucket drop clears the bucket's delete
    * vector AND its delta — strictly less state than O(live) new
    * bits); straddlers fall back to position bits as before.
    * Statistics arrive via [[skipStatParts]] (manifest-seeded for
    * reopened tables), so classification itself loads no blocks in the
    * steady state.
    */
  def deleteWhereFiltered(name: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): DeleteOutcome = synchronized {
    val t = get(name)
    val schema = t.schema
    object Cls extends Enumeration { val Drop, Keep, Scan = Value }
    val cls = Array.tabulate(t.buckets.length) { b =>
      if (liveCount(t, b) == 0) Cls.Keep // nothing to delete; keep identity
      else {
        def parts(c: String) = skipStatParts(t, b, c)
        if (!filters.forall(f => BucketSkip.mayMatch(schema, parts _, f))) Cls.Keep
        else if (filters.nonEmpty &&
          filters.forall(f => BucketSkip.mustMatchAll(schema, parts _, f))) Cls.Drop
        else Cls.Scan
      }
    }
    var deleted = 0L
    var evaluated = 0L
    val keepFull = VectorFilterEval.rows(schema, filters) // In probes convert once
    def matches(r: Row): Boolean = {
      evaluated += 1
      keepFull(r)
    }
    if (dmlModeOf(name) == MergeOnRead) {
      // straddlers keep the O(matches)-bits publish (their BASE block
      // is retained untouched); dropped buckets swap to an empty base
      // and shed their MoR state entirely; untouched buckets retain
      // their block — never loaded, never rewritten
      var newMor = t.mor
      cls.indices.foreach { b =>
        if (cls(b) == Cls.Scan) {
          val blk = t.buckets.block(b)
          // COLD CLEAN STRADDLER (round 17): a file-backed, unloaded
          // bucket with no pending MoR state finds its matching
          // positions by streaming ONLY the filters' columns (file
          // order = position order on a clean bucket) — a cold
          // `DELETE WHERE p` decodes the predicate's columns and
          // faults nothing into the heap cache. MoR/loaded buckets
          // keep the fold (positions need the live view / are free).
          val streamed: Boolean =
            if (t.mor.contains(b) || blk.isLoaded) false
            else blk.file.filter(_.path.nonEmpty) match {
              case Some(bf) if filters.nonEmpty &&
                  filters.flatMap(_.references).forall(schema.fieldNames.contains) =>
                try {
                  val refs = filters.flatMap(_.references).distinct
                  val proj = StructType(schema.fields.filter(fd => refs.contains(fd.name)))
                  var bits: java.util.BitSet = null
                  var pos = 0
                  var dLocal = 0L
                  val keepProj = VectorFilterEval.rows(proj, filters)
                  val it = FileStore.readBlockProjected(bf, proj)
                  while (it.hasNext) {
                    val r = it.next()
                    if (keepProj(r)) {
                      if (bits == null) bits = new java.util.BitSet()
                      bits.set(pos)
                      dLocal += 1
                    }
                    pos += 1
                  }
                  // deletion bits are POSITIONAL: a short stream (the
                  // missing-column contract, or any silent truncation)
                  // would publish wrong bits — require the full count
                  // before committing, else take the fold fallback
                  // (defense in depth; mirrors readBlock's manifest-
                  // count require)
                  if (pos != bf.rows)
                    throw new IllegalStateException(
                      s"projected stream yielded $pos rows, manifest says ${bf.rows}")
                  // counters commit only on a COMPLETE stream — a
                  // mid-stream failure leaves them untouched for the
                  // fold fallback's exact re-count
                  evaluated += pos
                  deleted += dLocal
                  if (bits != null)
                    newMor = newMor.updated(b, BucketMor(bits, Array.empty[Row]))
                  true
                } catch { case scala.util.control.NonFatal(_) => false }
              case _ => false
            }
          if (!streamed) {
            val f = folded(t, b)
            var bits: java.util.BitSet = null
            var i = 0
            while (i < f.rows.length) {
              if (matches(f.rows(i))) {
                if (bits == null)
                  bits = t.mor.get(b).map(_.deleted.clone().asInstanceOf[java.util.BitSet])
                    .getOrElse(new java.util.BitSet())
                bits.set(f.posOf(i))
                deleted += 1
              }
              i += 1
            }
            if (bits != null)
              newMor = newMor.updated(b,
                BucketMor(bits, t.mor.get(b).map(_.delta).getOrElse(Array.empty[Row])))
          }
        }
      }
      val rows = t.buckets.mapRetaining { b =>
        if (cls(b) == Cls.Drop) {
          deleted += liveCount(t, b)
          newMor -= b
          Some(Array.empty[Row])
        } else None
      }
      val next = t.copy(buckets = rows, mor = newMor, version = versions.incrementAndGet())
      publish(name, next)
      maybeAutoCompact(name, next)
    } else {
      // untouched buckets retain BOTH their block (file identity, no
      // load) and any pending MoR state; scanned buckets fold (their
      // entry drops); dropped buckets shed everything
      val rows = t.buckets.mapRetaining { b =>
        cls(b) match {
          case Cls.Drop =>
            deleted += liveCount(t, b)
            Some(Array.empty[Row])
          case Cls.Keep => None
          case _ =>
            val live = effectiveRows(t, b)
            val keep = live.filterNot { r =>
              val d = matches(r)
              if (d) deleted += 1
              d
            }
            if (keep.length == live.length && !t.mor.contains(b)) None else Some(keep)
        }
      }
      publish(name, t.copy(buckets = rows,
        mor = t.mor.filter { case (b, _) => cls(b) == Cls.Keep },
        version = versions.incrementAndGet()))
    }
    val out = DeleteOutcome(
      cls.count(_ == Cls.Drop), cls.count(_ == Cls.Keep), cls.count(_ == Cls.Scan),
      deleted, evaluated)
    lastDeleteOutcomes.put(name, out)
    out
  }

  /** NULL-pad a stored row to `arity` (schema-evolution read form; a
    * row written before an ADD COLUMN has no slot for it).
    */
  private[bucketed] def pad(r: Row, arity: Int): Row =
    if (r.length == arity) r
    else Row.fromSeq(r.toSeq ++ Seq.fill(arity - r.length)(null))

  /** A write-write conflict detected at commit: the statement read a
    * snapshot another transaction has since overwritten in a bucket
    * this statement rewrites. Retrying the statement re-plans against
    * the new current snapshot — the standard optimistic-concurrency
    * contract (Delta's ConcurrentModificationException family).
    */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Deterministic race-window injection (gates/specs): invoked ONCE —
    * then cleared — right after a row-level rewrite's scan pins its
    * read version, i.e. inside the scan-done-commit-pending window
    * where a concurrent writer can land. The conflict gates (q249)
    * commit an interleaving write here; production code never sets it.
    */
  @volatile var onRowLevelScanPinned: Option[(String, Long) => Unit] = None

  private[bucketed] def fireRowLevelScanPinned(name: String, v: Long): Unit = {
    val h = onRowLevelScanPinned
    if (h.isDefined) {
      onRowLevelScanPinned = None // one-shot BEFORE invoke: the hook itself may commit
      h.get(name, v)
    }
  }

  /** Does bucket `b` hold the same logical content in `cur` as in
    * `base`? Storage identity (COW array/file sharing) plus MoR-state
    * identity — the conflict predicate for commits planned against
    * `base` ([[replaceGroups]], [[applyDelta]]).
    */
  private def bucketUnchanged(cur: BucketTable, base: BucketTable, b: Int): Boolean =
    cur.buckets.sharesWith(base.buckets, b) && ((cur.mor.get(b), base.mor.get(b)) match {
      case (None, None) => true
      case (Some(c), Some(p)) => (c eq p) || ((c.delta eq p.delta) && (c.deleted eq p.deleted))
      case _ => false
    })

  /** Group (bucket) replacement for COPY_ON_WRITE row-level operations
    * (UPDATE/MERGE/fallback-DELETE): buckets in `groups` are REPLACED
    * by the incoming rows (the rewrite read them in full — survivors +
    * updates land in `byBucket`); buckets outside `groups` keep their
    * rows and only APPEND incoming ones (an UPDATE that rewrites the
    * bucket key, or a MERGE insert, legally moves rows into buckets
    * the scan never touched). One version, atomic, like every publish.
    *
    * OPTIMISTIC CONCURRENCY (`readVersion` = the snapshot the
    * rewrite's scan pinned): a concurrent commit that landed between
    * scan and commit is checked at BUCKET granularity — if it touched
    * none of this statement's replaced groups, the commit proceeds
    * against the current snapshot (appends compose, untouched groups
    * are bit-identical to what was read — an automatic rebase); if it
    * rewrote a group this statement also rewrote, committing would
    * silently undo it (lost update), so the statement fails loudly
    * with [[ConcurrentWriteException]] and a retry re-plans. Same
    * granularity Delta/Iceberg use with files as the group.
    */
  def replaceGroups(name: String, byBucket: Array[Array[Row]], groups: Set[Int],
      expectedLayoutEpoch: Long, readVersion: Option[Long] = None): Unit =
    synchronized {
      val t0 = get(name)
      require(byBucket.length == t0.buckets.length,
        s"write planned ${byBucket.length} buckets but '$name' has ${t0.buckets.length}")
      requireLayoutUnchanged(name, t0, expectedLayoutEpoch)
      readVersion.filter(_ != t0.version).foreach { rv =>
        val base = history(name).find(_.version == rv).getOrElse(
          throw new ConcurrentWriteException(
            s"rewrite of '$name' planned against v$rv, which is no longer retained — retry"))
        val clobbered = groups.filter(b => !bucketUnchanged(t0, base, b))
        if (clobbered.nonEmpty)
          throw new ConcurrentWriteException(
            s"concurrent commit to '$name' (v$rv → v${t0.version}) rewrote bucket(s) " +
              s"${clobbered.toSeq.sorted.mkString(", ")} this statement also rewrites — " +
              "committing would lose that update; retry the statement")
      }
      enforceCheck(name, t0.schema, byBucket)
      val t = freezeZBounds(t0, byBucket.iterator.flatten)
      val rows = t.buckets.zipWithIndex.map { case (old, b) =>
        if (groups.contains(b))
          clusterSort(t.schema, t.clusterCol, byBucket(b), t.zBounds, t.zKeyVersion)
        else if (byBucket(b).isEmpty) old
        else clusterMerge(t.schema, t.clusterCol, effectiveRows(t, b), byBucket(b), t.zBounds,
          t.zKeyVersion)
      }
      publish(name, t.copy(buckets = rows, version = versions.incrementAndGet(),
        mor = t.mor.filter { case (b, _) => !groups.contains(b) && byBucket(b).isEmpty }))
    }

  /** Schema evolution — ADD COLUMN (nullable, appended): publish ONE
    * new version with the extended schema and the SAME bucket arrays
    * (zero rewrite; existing rows are shorter than the schema and
    * readers pad them with NULL at fetch,
    * [[HostConnection.fetchBucket]]). Earlier snapshots keep their
    * own schema, so time travel serves the world as it was. ALL
    * fields are validated before ANY change applies — a multi-column
    * ALTER is atomic: it publishes one version or nothing.
    */
  def addColumns(name: String, fields: Seq[org.apache.spark.sql.types.StructField]): Unit =
    synchronized {
      val t = get(name)
      val taken = scala.collection.mutable.Set(t.schema.fieldNames.toSeq: _*)
      fields.foreach { field =>
        require(field.nullable,
          s"ADD COLUMN ${field.name}: only nullable columns can be added without a rewrite " +
            "(existing rows have no value for it)")
        require(taken.add(field.name),
          s"ADD COLUMN ${field.name}: column already exists in '$name'")
      }
      if (fields.nonEmpty)
        publish(name, t.copy(
          schema = StructType(t.schema.fields ++ fields),
          version = versions.incrementAndGet()))
    }

  def get(name: String): BucketTable = history(name).last

  /** All retained snapshot versions of `name`, oldest → newest. */
  def retained(name: String): Seq[Long] = history(name).map(_.version)

  def currentVersion(name: String): Long = get(name).version

  /** Range boundaries of the table's CURRENT layout, None for hash
    * layouts or a table not (yet) in the store — the tolerant lookup a
    * write factory needs (CTAS builds the factory before first data).
    */
  def rangeBoundsOf(name: String): Option[Array[Any]] =
    Option(tables.get(name)).flatMap(_.lastOption).flatMap(_.rangeBounds)

  /** The snapshot published as version `v` — MVCC read path: a scan
    * that pinned `v` at planning keeps reading `v` regardless of later
    * publishes. Loud failure (with the retained range) when `v` was
    * vacuumed or never existed: correctness never silently degrades to
    * a different snapshot.
    */
  def snapshot(name: String, v: Long): BucketTable = {
    val hist = history(name)
    hist.find(_.version == v).getOrElse {
      throw new IllegalArgumentException(
        s"snapshot v$v of '$name' is not retained (retained: " +
          s"${hist.map("v" + _.version).mkString(", ")}) — vacuumed, superseded beyond " +
          s"the $RetainedVersions-version MVCC window, or never published")
    }
  }

  /** Explicit history trim: keep the newest `keepLast` snapshots.
    * Returns the number of snapshots dropped. Time-travel or CDC reads
    * into the dropped range fail loudly afterwards.
    *
    * The disk follows the heap (round 16): a trim that dropped
    * versions also garbage-collects the files and manifests no
    * retained lineage references — the same shared-directory union
    * roots as publish-time retention GC, so a vacuum can never
    * collect what a branch (loaded or dormant-on-disk) still needs.
    * Before this, explicit vacuum trimmed only the heap window and
    * the dropped versions' files lingered until the next
    * retention-crossing publish.
    */
  /** Floor-less entry point: uses the table's OWN registered floor
    * ([[vacuumFloorOf]] — TBLPROPERTIES or setVacuumFloor), so a
    * table that declared its retention once is protected through
    * every `vacuum(t, n)` call site. Pass `minAgeMs` explicitly
    * (including 0) to override.
    */
  def vacuum(name: String, keepLast: Int): Int =
    vacuum(name, keepLast, vacuumFloorOf(name))

  /** [[vacuum]] with a TIME-BASED RETENTION FLOOR (round 18 — the
    * public Delta/Iceberg retention pattern): no snapshot committed
    * within the last `minAgeMs` milliseconds is dropped, and
    * [[FileStore.gc]] never deletes a file/manifest younger than the
    * floor — so a STALE FOREIGN READER (another process serving a
    * version it absorbed up to `minAgeMs` ago: one staleness-window
    * behind under `refresh_policy`, or pinned time-travel) cannot have
    * its serving version's files deleted out from under it mid-scan,
    * as long as operators size the floor to cover reader staleness.
    * The contract for readers STALER than the floor is loud, never
    * silent: same-process reads fail at plan time ([[snapshot]]'s
    * not-retained error), cross-process reads fail at the first block
    * fetch with [[FileStore.VacuumedFilesException]].
    *
    * The floor protects a contiguous suffix of history: only the
    * oldest-first prefix that is BOTH beyond `keepLast` AND older than
    * the floor drops (commitTs is monotonic, so the first young
    * version ends the droppable prefix).
    */
  def vacuum(name: String, keepLast: Int, minAgeMs: Long): Int = synchronized {
    require(keepLast >= 1, s"vacuum must keep at least the current snapshot, got $keepLast")
    require(minAgeMs >= 0L, s"vacuum retention floor must be >= 0 ms, got $minAgeMs")
    val hist = history(name)
    // a ZERO floor is pure count-based retention (the pre-floor
    // contract): commit stamps are MONOTONIC (max(prev+1, clock)) and
    // can run ahead of the wall clock after skew or stamp races, so
    // comparing them against `clock() - 0` could wrongly protect
    // everything. With a positive floor that conservatism is the
    // point — an ahead-of-clock stamp reads as young and survives.
    // SATURATE, never wrap: minAgeMs near Long.MaxValue (a "retain
    // forever" sentinel) would overflow the micros product and invert
    // the cutoff to ≈ now — the exact opposite of maximum protection
    val cutoffMicros =
      if (minAgeMs == 0L) Long.MaxValue
      else try Math.subtractExact(clock(), Math.multiplyExact(minAgeMs, 1000L))
      catch { case _: ArithmeticException => Long.MinValue } // commitTs stamps are micros
    val dropped = hist.dropRight(keepLast).takeWhile(_.commitTs < cutoffMicros).length
    if (dropped > 0) {
      tables.put(name, hist.drop(dropped))
      if (isFileBacked(name)) {
        val dir = tableDir(name)
        // an explicit arg overrides THIS table's floor, never a
        // cohabiting lineage's
        FileStore.gc(dir, retainedVersionsSharing(dir),
          math.max(minAgeMs, floorSharing(dir, except = name))): Unit
      }
    }
    dropped
  }

  /** Retained MVCC versions currently serving `name` (specs/ops). */
  def retainedVersionCount(name: String): Int = history(name).length

  private def history(name: String): Vector[BucketTable] = {
    maybeInjectFailure()
    val hist = tables.get(name)
    require(hist != null, s"BucketStore has no table '$name' — call BucketStore.load first")
    hist
  }

  /** Metadata fetch with ONE bounded retry (C9 — reference:
    * SnappydataJdbcUtil.scala:61-78 retries the topology query once
    * against an alternate locator before failing). Only transient
    * (IOException) failures retry; a missing table is not transient.
    */
  def getWithRetry(name: String, retries: Int = 1): BucketTable =
    try get(name)
    catch {
      case e: java.io.IOException if retries > 0 =>
        System.err.println(s"[graft-buckets] transient metadata failure for '$name' " +
          s"(${e.getMessage}); retrying (${retries} left)")
        getWithRetry(name, retries - 1)
    }

  /** [[snapshot]] with the same bounded transient-failure retry. */
  def snapshotWithRetry(name: String, v: Long, retries: Int = 1): BucketTable =
    try snapshot(name, v)
    catch {
      case e: java.io.IOException if retries > 0 =>
        System.err.println(s"[graft-buckets] transient metadata failure for '$name' " +
          s"(${e.getMessage}); retrying (${retries} left)")
        snapshotWithRetry(name, v, retries - 1)
    }

  // — transient-failure injection (spec hook for the C9 retry path) —
  private val injectedFailures = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Make the next `n` metadata fetches throw IOException. */
  def injectTransientFailures(n: Int): Unit = injectedFailures.set(n)

  private def maybeInjectFailure(): Unit =
    if (injectedFailures.getAndUpdate(i => if (i > 0) i - 1 else 0) > 0)
      throw new java.io.IOException("injected transient metadata failure")
}
