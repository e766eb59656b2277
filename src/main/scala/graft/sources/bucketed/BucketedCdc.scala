package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Change-data-capture over the bucket store's MVCC history — the
  * scale-honest alternative to the snapshot feed
  * ([[BucketMicroBatchStream]]): instead of replaying the WHOLE table
  * on every version bump, each micro-batch ships only the row-level
  * DELTA between retained snapshots, per bucket, tagged with
  * `_change_type` (insert/delete) and `_commit_version`. An UPDATE
  * appears as delete+insert under one commit version; a copy-on-write
  * bucket rewrite (SQL UPDATE/MERGE republish the whole bucket,
  * [[BucketStore.replaceGroups]]) emits only the NET logical changes —
  * unchanged rows cancel in the diff, so the feed reflects what
  * changed, never how the store stores it.
  *
  * What carries to 100 TB: the delta is computed per bucket, in the
  * bucket's own task (host-local, pooled paged fetches — the same
  * "server side" the pushed aggregates run on; a production store
  * would serve its WAL/changelog directly and skip the diff). Only
  * changed rows cross to Spark, so a stream over a 100 TB table whose
  * daily churn is 0.1% moves 100 GB per replay window, not 100 TB —
  * the difference between a maintainable downstream materialization
  * and re-reading the world.
  *
  * Offset axis = store versions, like the snapshot feed. Replay
  * starts at offset 0 = "before the oldest retained snapshot", whose
  * first step emits that snapshot as inserts (the initial-load batch).
  * A checkpointed offset that has since been [[BucketStore.vacuum]]ed
  * out of the window fails LOUDLY — a change feed that silently skips
  * history corrupts every downstream materialization.
  */
object CdcSchema {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  val Insert = "insert"
  val Delete = "delete"
  val UpdatePre = "update_preimage"
  val UpdatePost = "update_postimage"

  /** The tags that ADD a row to a downstream materialization (their
    * complement removes one) — consumers fold `isin(Adds…) ? +1 : -1`.
    */
  val Adds: Seq[String] = Seq(Insert, UpdatePost)

  def of(base: StructType): StructType = {
    require(!base.fieldNames.contains(ChangeType) && !base.fieldNames.contains(CommitVersion),
      s"table schema already has a $ChangeType/$CommitVersion column")
    StructType(base.fields ++ Seq(
      StructField(ChangeType, StringType, nullable = false),
      StructField(CommitVersion, LongType, nullable = false)))
  }
}

/** No pushdown: a change feed's consumers need every delta (filters
  * above the scan still apply Spark-side; pruning an unseen delta
  * could silently drop a delete a downstream merge depends on).
  */
class CdcScanBuilder(name: String, opts: ConnectorOptions) extends ScanBuilder {
  // staleness policy (opt-in): a BATCH changes-read (changesstart/
  // changesend window) on a table another process writes absorbs the
  // foreign commits at plan time, same as the batch scan and the
  // stream's offset discovery — otherwise `mode=cdc` over a policy
  // table could silently miss the newest foreign window
  BucketStore.maybeRefresh(name): Unit

  override def build(): Scan = new CdcScan(name, opts)
}

class CdcScan(name: String, opts: ConnectorOptions) extends Scan
  with org.apache.spark.sql.connector.read.Batch {
  private def fetchSize = opts.fetchSize

  /** The feed's declared base schema, pinned at scan creation. Every
    * emitted row is normalized to THIS shape regardless of which
    * schema version a window step carries ([[CdcPartitionReader]]) —
    * a window ending before an ADD COLUMN pads the new column with
    * NULL, one read through an older declared schema projects it
    * away. Declared and emitted shapes can never diverge.
    */
  private val declaredBase: StructType = BucketStore.getWithRetry(name).schema

  override def readSchema(): StructType = CdcSchema.of(declaredBase)

  override def description(): String = {
    val window = (opts.changesStart, opts.changesEnd) match {
      case (Some(s), e) => s" window=(v$s, ${e.map("v" + _).getOrElse("current")}]"
      case _ => ""
    }
    s"graft-buckets:$name mode=cdc$window"
  }

  /** Batch change read — the `table_changes` analog: legal only with
    * an explicit `changesStart` window (unbounded batch semantics,
    * "all changes ever", would silently truncate at the retention
    * window; the stream's checkpoint handles that case honestly).
    * Window semantics are EXACTLY the stream's offsets: (start, end],
    * start 0 = from the beginning of retained history (oldest
    * retained snapshot = one initial insert batch).
    */
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    opts.changesStart match {
      case Some(_) => this
      case None => throw new UnsupportedOperationException(
        s"graft-buckets '$name' mode=cdc needs an explicit window for a batch read " +
          "(option 'changesStart', exclusive; optional 'changesEnd', inclusive — the " +
          "stream's offset semantics) — an unbounded batch change feed would silently " +
          "truncate at the MVCC retention window; use spark.readStream for continuous " +
          "consumption")
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val startV = opts.changesStart.get
    val endV = opts.changesEnd.getOrElse(BucketStore.getWithRetry(name).version)
    require(startV <= endV,
      s"graft-buckets: changesStart=v$startV is after changesEnd=v$endV")
    CdcPlanner.plan(name, startV, endV)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(declaredBase, fetchSize)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // explicit windows are batch-only; a stream's cursor is its
    // checkpoint. Silently ignoring them would hand a consumer who
    // asked for "changes after v5" the full history again.
    require(opts.changesStart.isEmpty && opts.changesEnd.isEmpty,
      "graft-buckets: 'changesstart'/'changesend' are batch-only (spark.read) — a CDC " +
        "STREAM resumes from its checkpointed offset; drop the options or use spark.read")
    new BucketCdcMicroBatchStream(name, declaredBase, fetchSize)
  }
}

/** Shared step planning for the batch and streaming change feeds:
  * one partition per bucket carrying every (fromVersion, toVersion)
  * diff step whose commit lands in (startV, endV].
  */
private[bucketed] object CdcPlanner {
  def plan(name: String, startV: Long, endV: Long): Array[InputPartition] = {
    if (startV >= endV) return Array.empty
    val retained = BucketStore.retained(name)
    require(startV == 0 || retained.contains(startV),
      s"CDC replay from v$startV of '$name' is impossible: that snapshot left the MVCC " +
        s"window (retained: ${retained.map("v" + _).mkString(", ")}). The feed fails rather " +
        "than silently skipping history — re-seed the downstream materialization, or vacuum " +
        "less aggressively than the consumer lags")
    val commits = retained.filter(v => v > startV && v <= endV)
    // a from-the-beginning window that overlaps the table's lifetime
    // but yields no retained commit cannot be reconstructed (its
    // commits were vacuumed); an empty result would read as "nothing
    // ever happened" — the silent skip the contract forbids. The
    // table's FIRST version (tracked through vacuum) distinguishes
    // that from a window that simply predates the table's creation,
    // which is legitimately empty — the version counter is global, so
    // retained.head alone cannot tell the two apart.
    require(!(startV == 0 && commits.isEmpty && endV >= BucketStore.firstVersion(name)),
      s"CDC window (v0, v$endV] of '$name' overlaps vacuumed history (oldest retained: " +
        s"v${retained.head}) — the net through v$endV cannot be reconstructed")
    if (commits.isEmpty) return Array.empty
    // diff bases: the requested start (or 0 = empty table) then each
    // intermediate commit. The base snapshot must share the commits'
    // bucket count or the per-bucket diff is meaningless.
    val steps = ((startV +: commits).sliding(2).collect { case Seq(a, b) => (a, b) }).toArray
    val snaps = commits.map(BucketStore.snapshotWithRetry(name, _))
    val base = if (startV == 0) None else Some(BucketStore.snapshotWithRetry(name, startV))
    val baseCounts = base.map(_.buckets.length).toSeq
    val n = snaps.head.buckets.length
    require(snaps.forall(_.buckets.length == n) && baseCounts.forall(_ == n),
      s"CDC window of '$name' spans a re-bucketing (" +
        s"${(baseCounts ++ snaps.map(_.buckets.length)).distinct.mkString("→")} buckets) — not diffable")
    // a SAME-count layout change (repartition_range, or rebucket back
    // from it) also invalidates per-bucket diffs — every moved row
    // would read as a spurious delete+insert pair; the epoch marker
    // catches what the count comparison cannot
    val epoch = snaps.head.layoutEpoch
    require(snaps.forall(_.layoutEpoch == epoch) && base.forall(_.layoutEpoch == epoch),
      s"CDC window of '$name' spans a bucket-layout change " +
        s"(rebucket/repartition_range) — per-bucket diffs across layouts are not diffable")
    val hosts = snaps.last.hosts
    Array.tabulate(n)(b =>
      CdcInputPartition(name, b, hosts(b).toArray, steps, snaps.last.keyCol))
  }
}

class BucketCdcMicroBatchStream(name: String, declaredBase: StructType, fetchSize: Int)
  extends MicroBatchStream with BucketAvailableNow {

  override protected def anTableName: String = name

  override def initialOffset(): Offset = new BucketStreamOffset(0L)

  override def latestOffset(): Offset = {
    // staleness policy: a CHANGEFEED tailing a foreign writer's table
    // sees new commits only if offset discovery absorbs them (opt-in,
    // [[BucketStore.setRefreshPolicy]])
    new BucketStreamOffset(discoverLatestVersion())
  }

  override def deserializeOffset(json: String): Offset = new BucketStreamOffset(json.toLong)

  /** One partition per bucket, carrying every (fromVersion, toVersion)
    * diff step in the batch's (start, end] version range — the reader
    * walks the steps in commit order so a row inserted in v2 and
    * deleted in v3 yields both events, ordered. Planning shared with
    * the batch change read ([[CdcPlanner]]).
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    CdcPlanner.plan(name, BucketStreamOffset.of(start), BucketStreamOffset.of(end))

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(declaredBase, fetchSize)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class CdcInputPartition(table: String, bucket: Int, hosts: Array[String],
    steps: Array[(Long, Long)], keyCol: String) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

/** The CDC multiset diff: counts of old rows not matched by new rows
  * are deletes; new rows beyond their old multiplicity are inserts.
  * Row.equals/hashCode are field-wise, so identical duplicates cancel
  * pairwise and a COW bucket rewrite nets to its logical changes
  * only. Invariant (ScalaCheck-pinned): old − deletes + inserts = new
  * as multisets, and |deletes| + |inserts| is MINIMAL (the multiset
  * symmetric difference — nothing unchanged ever ships).
  */
object BucketedCdc {
  /** CDC steps served from MoR state in O(changed rows) instead of a
    * two-snapshot fetch-and-diff — observability/spec hook only (see
    * the single-auditor note on the scan counters); never load-bearing.
    */
  val morFastSteps = new java.util.concurrent.atomic.AtomicLong()
}

object CdcDiff {
  def diff(oldRows: Seq[Row], newRows: Seq[Row]): (Vector[Row], Vector[Row]) = {
    val unmatched = new scala.collection.mutable.HashMap[Row, Int]()
    oldRows.foreach(r => unmatched(r) = unmatched.getOrElse(r, 0) + 1)
    val inserts = Vector.newBuilder[Row]
    newRows.foreach { r =>
      unmatched.get(r) match {
        case Some(c) if c > 0 => if (c == 1) unmatched.remove(r) else unmatched(r) = c - 1
        case _ => inserts += r
      }
    }
    // deletes in stored order: take each old row while its unmatched
    // multiplicity lasts (deterministic emission for a deterministic
    // store order)
    val deletes = Vector.newBuilder[Row]
    oldRows.foreach { r =>
      val c = unmatched.getOrElse(r, 0)
      if (c > 0) { deletes += r; if (c == 1) unmatched.remove(r) else unmatched(r) = c - 1 }
    }
    (deletes.result(), inserts.result())
  }
}

/** Update coalescing over one commit step's minimal diff: a delete and
  * an insert sharing the BUCKET KEY are one logical row-update — a
  * MERGE-style consumer wants them as an adjacent `update_preimage`/
  * `update_postimage` pair keyed on the table key, not as two events it
  * must re-join. Pairing happens ABOVE [[CdcDiff]] (whose multiset
  * minimality stays ScalaCheck-pinned untouched) and only re-TAGS rows:
  * replaying pre=remove/post=add is byte-identical to replaying the
  * raw delete+insert, so every fold over the feed is unchanged modulo
  * tag names. Unpairable leftovers keep their plain tags; multiplicity
  * pairs FIFO in the diff's deterministic emission order.
  *
  * CONTRACT — multiset vs identity semantics: the multiset reading
  * (pre=remove, post=add) is always exact. The IDENTITY reading ("this
  * pre became that post") is exact when the bucket key is unique per
  * row, and for COW rewrites generally (the store preserves row order,
  * so FIFO aligns row i with its rewritten self). On a NON-unique key,
  * a commit that deletes one row of a key and inserts an unrelated row
  * of the same key pairs them — a diff-based feed cannot distinguish
  * that from an update (the store records state, not operations; a
  * WAL-backed production store would tag from the operation log).
  * Consumers needing strict identity on a non-unique key should treat
  * pre/post as remove/add — which is always correct. Key-MOVING
  * updates land in different buckets and are never paired (spec'd).
  */
object CdcCoalesce {
  def pair(deletes: Vector[Row], inserts: Vector[Row], keyIdx: Int): Vector[(Row, String)] = {
    if (deletes.isEmpty || inserts.isEmpty)
      return deletes.map((_, CdcSchema.Delete)) ++ inserts.map((_, CdcSchema.Insert))
    val byKey = new scala.collection.mutable.HashMap[Any, scala.collection.mutable.Queue[Int]]()
    inserts.zipWithIndex.foreach { case (r, i) =>
      byKey.getOrElseUpdate(r.get(keyIdx), scala.collection.mutable.Queue.empty[Int]) += i
    }
    val used = new Array[Boolean](inserts.length)
    val out = Vector.newBuilder[(Row, String)]
    deletes.foreach { d =>
      byKey.get(d.get(keyIdx)).filter(_.nonEmpty) match {
        case Some(q) =>
          val i = q.dequeue()
          used(i) = true
          out += ((d, CdcSchema.UpdatePre))
          out += ((inserts(i), CdcSchema.UpdatePost))
        case None => out += ((d, CdcSchema.Delete))
      }
    }
    inserts.zipWithIndex.foreach { case (r, i) => if (!used(i)) out += ((r, CdcSchema.Insert)) }
    out.result()
  }
}

class CdcReaderFactory(declaredBase: StructType, fetchSize: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(partition.asInstanceOf[CdcInputPartition], declaredBase, fetchSize)
}

/** Emits one bucket's deltas across the batch's version steps. Per
  * step: fetch the bucket at the base and target snapshots (pooled,
  * failover — fromVersion 0 = empty base), multiset-diff, emit deletes
  * then inserts tagged with the target commit version. Memory is one
  * bucket's two snapshots — the same bound the snapshot reader has —
  * and ONLY delta rows are handed to Spark.
  */
class CdcPartitionReader(p: CdcInputPartition, baseSchema: StructType, fetchSize: Int)
  extends PartitionReader[InternalRow] {

  private val cdcSchema = CdcSchema.of(baseSchema)
  private val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
    .createToCatalystConverter(cdcSchema)

  /** Normalize a fetched row to the DECLARED base schema: pad with
    * NULL when the row predates an ADD COLUMN, project extra columns
    * away when the declared schema does (an older subscription view).
    * Normalizing BEFORE the diff also makes steps straddling a schema
    * change compare logically identical rows equal — and guarantees
    * every emitted delta matches the schema the scan declared.
    */
  private def toDeclared(r: Row): Row =
    if (r.length == baseSchema.length) r
    else if (r.length < baseSchema.length) BucketStore.pad(r, baseSchema.length)
    else Row.fromSeq(r.toSeq.take(baseSchema.length))

  private def fetchRows(version: Long): IndexedSeq[Row] =
    if (version == 0L) IndexedSeq.empty
    else {
      val (conn, rows) = BucketReaderSupport.openWithFailover(
        BucketInputPartition(p.table, p.bucket, p.hosts, version), fetchSize)
      // positions are irrelevant to a diff — the fetch already folded
      // any merge-on-read state, so the diff sees LOGICAL rows and a
      // DV commit nets to exactly its deletes/updates
      try rows.map(toDeclared).toIndexedSeq
      finally ConnectionPool.release(conn)
    }

  /** MERGE-ON-READ FAST STEP (round 17): when `fromV → toV` left the
    * bucket's BASE block untouched and only grew its MoR state (the
    * delta-commit contract: bits monotone, delta append-only — the
    * exact invariants [[BucketStore.applyDelta]]'s concurrency check
    * enforces), the step's logical diff is constructible from the MoR
    * state in O(changed rows): newly set bits name the deleted
    * positions (base pre-images come from ONE uncached projected
    * stream of the block file — or the in-heap array if loaded; old
    * delta pre-images are heap-resident), new live delta rows are the
    * inserts, and a row inserted AND deleted within the window
    * suppresses on both sides. A final [[CdcDiff.diff]] over the two
    * small vectors restores the fetch-path's exact BAG semantics
    * (value-equal delete/insert pairs cancel). Anything the guards
    * can't prove — base rewritten (compaction/COW), bits shrunk
    * (rollback), delta reordered, version not retained — falls back
    * to the fetch-and-diff path. At 100 TB this makes a trickle
    * update's changefeed step cost ∝ its changed rows instead of two
    * full bucket fetches.
    */
  private def morFastDiff(fromV: Long, toV: Long): Option[(Vector[Row], Vector[Row])] = {
    if (fromV == 0L) return None
    val (oldT, newT) =
      try (BucketStore.snapshot(p.table, fromV), BucketStore.snapshot(p.table, toV))
      catch { case scala.util.control.NonFatal(_) => return None }
    if (p.bucket >= oldT.buckets.length || p.bucket >= newT.buckets.length) return None
    if (!newT.buckets.sharesWith(oldT.buckets, p.bucket)) return None
    val om = oldT.mor.get(p.bucket)
    val nm = newT.mor.get(p.bucket)
    val bits0 = om.map(_.deleted).getOrElse(new java.util.BitSet())
    val bits1 = nm.map(_.deleted).getOrElse(new java.util.BitSet())
    val d0 = om.map(_.delta).getOrElse(Array.empty[Row])
    val d1 = nm.map(_.delta).getOrElse(Array.empty[Row])
    val shrunk = {
      val c = bits0.clone().asInstanceOf[java.util.BitSet]; c.andNot(bits1); !c.isEmpty
    }
    if (shrunk) return None
    if (d1.length < d0.length || !d0.indices.forall(i => d0(i) eq d1(i))) return None
    val blk = newT.buckets.block(p.bucket)
    val baseLen = blk.rowCount
    val newBits = bits1.clone().asInstanceOf[java.util.BitSet]
    newBits.andNot(bits0)
    val basePos = new scala.collection.mutable.ArrayBuffer[Int]()
    val deletes = Vector.newBuilder[Row]
    var pb = newBits.nextSetBit(0)
    while (pb >= 0) {
      if (pb < baseLen) basePos += pb
      else if (pb - baseLen < d0.length) deletes += toDeclared(d0(pb - baseLen))
      // else: inserted-and-deleted within the window — never visible
      pb = newBits.nextSetBit(pb + 1)
    }
    if (basePos.nonEmpty) {
      if (blk.isLoaded) {
        val rows = blk.rows
        basePos.foreach(pp => deletes += toDeclared(rows(pp)))
      } else blk.file.filter(_.path.nonEmpty) match {
        case Some(bf) =>
          try {
            val it = FileStore.readBlockProjected(bf, baseSchema)
            var idx = 0
            var k = 0
            while (it.hasNext && k < basePos.length) {
              val r = it.next()
              if (idx == basePos(k)) { deletes += toDeclared(r); k += 1 }
              idx += 1
            }
            if (k < basePos.length) return None // file/manifest drift: fall back
          } catch { case scala.util.control.NonFatal(_) => return None }
        case None => return None
      }
    }
    val inserts = Vector.newBuilder[Row]
    var j = d0.length
    while (j < d1.length) {
      if (!bits1.get(baseLen + j)) inserts += toDeclared(d1(j))
      j += 1
    }
    BucketedCdc.morFastSteps.incrementAndGet()
    Some(CdcDiff.diff(deletes.result(), inserts.result()))
  }

  // each step's target snapshot is the next step's base — carry it
  // forward instead of re-fetching (halves paged round trips on
  // multi-commit windows; flatMap pulls steps strictly in order, so
  // the carried state is safe)
  private var carried: Option[(Long, IndexedSeq[Row])] = None

  private val out: Iterator[Row] = p.steps.iterator.flatMap { case (fromV, toV) =>
    def tag(r: Row, kind: String): Row = Row.fromSeq(r.toSeq :+ kind :+ toV)
    val (deletes, inserts) = morFastDiff(fromV, toV) match {
      case Some(di) => di // O(changed rows); `carried` intentionally untouched
      case None =>
        val oldRows = carried match {
          case Some((v, rows)) if v == fromV => rows
          case _ => fetchRows(fromV)
        }
        val newRows = fetchRows(toV)
        carried = Some((toV, newRows))
        CdcDiff.diff(oldRows, newRows)
    }
    CdcCoalesce.pair(deletes, inserts, baseSchema.fieldIndex(p.keyCol))
      .iterator.map { case (r, kind) => tag(r, kind) }
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (out.hasNext) {
      current = toCatalyst(out.next()).asInstanceOf[InternalRow]
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
