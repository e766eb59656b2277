package graft.sources.bucketed

import java.util.{Map => JMap}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 connector for the bucket-partitioned store — the
  * Spark-native rebuild of the reference's partition-aware scan
  * (SURVEY §2.1 S1 / §2.9 C1-C10):
  *
  *   - topology discovery at planning time → [[BucketedBatch.planInputPartitions]]
  *     builds exactly one [[BucketInputPartition]] per bucket carrying
  *     the bucket's host list (reference: one split per bucket,
  *     SnappyDataConnectorHelper.scala:142-152);
  *   - locality-aware assignment → `preferredLocations` (reference:
  *     SnappydataInputSplitAssigner.java:21-61 hand-rolls what Spark's
  *     DAGScheduler delay scheduling does natively);
  *   - server-local execution → the reader touches only its bucket
  *     (reference: SET_BUCKETS_FOR_LOCAL_EXECUTION,
  *     SnappyDataConnectorHelper.scala:23-25);
  *   - and, beyond the reference's `SELECT *`
  *     (SnappyDataInputFormat.java:88): filter pushdown and column
  *     pruning, enforced inside the reader, so the scan is
  *     strictly better than the original;
  *   - snapshot consistency → the scan pins the table version seen at
  *     planning and every reader serves EXACTLY that snapshot from the
  *     store's MVCC window (round 7; a concurrent republish no longer
  *     aborts the scan — only a vacuumed snapshot fails, loudly). The
  *     reference designed a fail-on-drift check instead
  *     (SnappyDataConnectorHelper.scala:97-118); MVCC is the strictly
  *     stronger guarantee.
  *
  * Rows stream through the reader one at a time — deliberately NOT the
  * reference's drain-everything-into-a-queue approach
  * (SnappyDataInputFormat.java:94-105): same rows, bounded memory.
  *
  * Usage: `spark.read.format("graft-buckets").option("table", name).load()`.
  */
/** The connector's option vocabulary (C8 — mirrors the reference's
  * Spark-JDBC option set, JDBCOptions.java:15-32, minus the JDBC-only
  * knobs that have no meaning against the bucket store):
  *
  *   - `table` (required): store table name;
  *   - `fetchsize`: rows per server round trip (JDBC fetch size
  *     analog), default 1000, must be a positive integer;
  *   - `numpartitions`: read parallelism. The scan is bucket-pinned
  *     (one split per bucket, like the reference's
  *     SET_BUCKETS_FOR_LOCAL_EXECUTION mode), so if set it must equal
  *     the table's bucket count — anything else is a configuration
  *     error surfaced loudly, not silently ignored;
  *   - `versionasof`: time-travel read — pin the scan to a retained
  *     MVCC snapshot instead of the current one (batch only; the SQL
  *     `VERSION AS OF` syntax routes here via [[BucketedCatalog]]);
  *   - `mode`: `snapshot` (default) or `cdc` — `cdc` turns a
  *     `readStream` into a change-data feed replaying per-bucket
  *     row-level deltas between retained versions (see
  *     [[BucketCdcMicroBatchStream]]);
  *   - `changesstart` / `changesend`: the BOUNDED batch change read
  *     (`table_changes` analog) — with `mode=cdc` on `spark.read`,
  *     deltas whose commit version lands in (changesStart,
  *     changesEnd] (stream offset semantics; changesStart 0 = from
  *     the beginning of retained history, changesEnd defaults to
  *     current);
  *   - `timestampasof`: time travel by commit time (micros since the
  *     epoch), resolved to a pinned version when the table is opened;
  *   - `upsert`, `txnappid`, `txnversion`: write-side only (keyed
  *     upsert and idempotent replay, see [[BucketedWriteBuilder]]).
  *
  * No option picks the read path: a scan reads `ColumnarBatch`es
  * whenever its projected types allow ([[BucketedReaderFactory]]).
  * Unknown options are REJECTED with the full vocabulary in the
  * message: a typo like `fetchSize=10.5` or `fechsize` must fail the
  * query, not silently run with defaults.
  */
final case class ConnectorOptions(table: String, fetchSize: Int, numPartitions: Option[Int],
    versionAsOf: Option[Long] = None, cdc: Boolean = false,
    changesStart: Option[Long] = None, changesEnd: Option[Long] = None,
    upsert: Boolean = false, timestampAsOf: Option[Long] = None)

object ConnectorOptions {
  val Known: Set[String] = Set("table", "fetchsize", "numpartitions", "versionasof", "mode",
    "changesstart", "changesend", "upsert", "timestampasof",
    // write-side idempotence (read paths ignore them): see
    // BucketedWriteBuilder.txn
    "txnappid", "txnversion")
  val Defaults: ConnectorOptions = ConnectorOptions("", fetchSize = 1000, numPartitions = None)

  def parse(options: JMap[String, String]): ConnectorOptions = {
    val keys = options.keySet().asScala.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val unknown = keys -- Known
    require(unknown.isEmpty,
      s"graft-buckets: unknown option(s) ${unknown.mkString("'", "', '", "'")}; " +
        s"supported: ${Known.toSeq.sorted.mkString(", ")}")
    val ci = new CaseInsensitiveStringMap(options)
    val table = ci.get("table")
    require(table != null && table.nonEmpty, "graft-buckets requires option 'table'")
    def posInt(key: String, default: Option[Int]): Option[Int] = {
      val raw = ci.get(key)
      if (raw == null) default
      else {
        val v = try raw.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft-buckets: option '$key' must be a positive integer, got '$raw'")
        }
        require(v > 0, s"graft-buckets: option '$key' must be a positive integer, got '$raw'")
        Some(v)
      }
    }
    val versionAsOf = Option(ci.get("versionasof")).map { raw =>
      val v = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-buckets: option 'versionasof' must be a positive integer version, got '$raw'")
      }
      require(v > 0,
        s"graft-buckets: option 'versionasof' must be a positive integer version, got '$raw'")
      v
    }
    val cdc = Option(ci.get("mode")).map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("snapshot") => false
      case Some("cdc") => true
      case Some(other) => throw new IllegalArgumentException(
        s"graft-buckets: option 'mode' must be 'snapshot' or 'cdc', got '$other'")
    }
    require(!(cdc && versionAsOf.isDefined),
      "graft-buckets: 'versionasof' cannot combine with mode=cdc — the change feed " +
        "always replays the retained history from the stream's checkpointed offset")
    def version(key: String, allowZero: Boolean): Option[Long] = Option(ci.get(key)).map { raw =>
      val v = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-buckets: option '$key' must be a store version, got '$raw'")
      }
      require(v > 0 || (allowZero && v == 0),
        s"graft-buckets: option '$key' must be a store version, got '$raw'")
      v
    }
    val changesStart = version("changesstart", allowZero = true)
    val changesEnd = version("changesend", allowZero = false)
    require(changesStart.isEmpty && changesEnd.isEmpty || cdc,
      "graft-buckets: 'changesstart'/'changesend' only apply to mode=cdc")
    // write-side: keyed-upsert commit (see BucketedUpsertWriteBuilder);
    // meaningless on a scan, rejected there (newScanBuilder)
    val upsert = Option(ci.get("upsert")).exists { raw =>
      raw.toLowerCase(java.util.Locale.ROOT) match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"graft-buckets: option 'upsert' must be true or false, got '$other'")
      }
    }
    require(!(upsert && (cdc || versionAsOf.isDefined)),
      "graft-buckets: 'upsert' is a write option and cannot combine with mode=cdc " +
        "or 'versionasof'")
    // option-path TIMESTAMP AS OF (micros since epoch) — the format
    // path's twin of the SQL syntax; resolved to a pinned version at
    // getTable (BucketStore.versionAt)
    val timestampAsOf = Option(ci.get("timestampasof")).map { raw =>
      val v = try raw.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft-buckets: option 'timestampasof' must be a commit timestamp in " +
            s"microseconds since the epoch, got '$raw'")
      }
      require(v > 0,
        s"graft-buckets: option 'timestampasof' must be a commit timestamp in " +
          s"microseconds since the epoch, got '$raw'")
      v
    }
    require(!(timestampAsOf.isDefined && (versionAsOf.isDefined || cdc)),
      "graft-buckets: 'timestampasof' cannot combine with 'versionasof' or mode=cdc")
    require(!(upsert && timestampAsOf.isDefined),
      "graft-buckets: 'upsert' is a write option and cannot combine with 'timestampasof'")
    ConnectorOptions(table, posInt("fetchsize", Some(1000)).get, posInt("numpartitions", None),
      versionAsOf, cdc, changesStart, changesEnd, upsert, timestampAsOf)
  }
}

class BucketedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-buckets"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ConnectorOptions.parse(options.asCaseSensitiveMap())
    val base = BucketStore.getWithRetry(opts.table).schema
    if (opts.cdc) CdcSchema.of(base) else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = ConnectorOptions.parse(properties)
    // resolve timestampasof here, once: the handle then behaves
    // exactly like a versionasof pin everywhere downstream
    val resolved = opts.timestampAsOf match {
      case Some(ts) => opts.copy(
        versionAsOf = Some(BucketStore.versionAt(opts.table, ts)), timestampAsOf = None)
      case None => opts
    }
    new BucketedTable(resolved.table, resolved)
  }
}

object BucketedTable {
  /** Row-id metadata columns ([[org.apache.spark.sql.connector.catalog.SupportsMetadataColumns]]):
    * `(_bucket, _pos)` names a physical row — the address the
    * merge-on-read delta DML path ([[BucketedDeltaOperation.rowId]])
    * deletes/updates by, Iceberg's `(_file, _pos)` translated to the
    * bucket store's layout. Synthesized by the reader only when
    * requested; ordinary scans never carry them.
    */
  val MetaBucket = "_bucket"
  val MetaPos = "_pos"
}

class BucketedTable(name: String, opts: ConnectorOptions = ConnectorOptions.Defaults)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private def t: BucketStore.BucketTable = BucketStore.getWithRetry(name)

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (opts.cdc) Array.empty
    else Array(BucketedTable.MetaBucket, BucketedTable.MetaPos).map { n =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.IntegerType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row id (merge-on-read delta DML address)"
      }
    }

  /** The snapshot this HANDLE describes: the pinned one for a
    * time-travel table, else current. All metadata surfaces (schema,
    * partitioning, DESCRIBE properties) must agree with the snapshot
    * the scan will actually read — after a rebucket, a `VERSION AS OF`
    * handle must advertise the OLD layout, not the current one.
    */
  private def described: BucketStore.BucketTable =
    opts.versionAsOf.map(BucketStore.snapshotWithRetry(name, _)).getOrElse(t)

  /** SQL UPDATE / MERGE INTO / fallback DELETE. Strategy is the
    * table's `write.dml.mode`: copy-on-write (default) group-replaces
    * owning buckets ([[BucketedRowLevelOperationBuilder]]);
    * merge-on-read commits position deletes + delta rows through
    * Spark's delta protocol ([[BucketedDeltaOperationBuilder]]) — a
    * point UPDATE then publishes O(changed rows), never a bucket.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    if (BucketStore.dmlModeOf(name) == BucketStore.MergeOnRead)
      new BucketedDeltaOperationBuilder(name, info)
    else new BucketedRowLevelOperationBuilder(name, info)

  /** `DELETE FROM graft.t WHERE …`: accepted only when the store
    * claims every conjunct ([[VectorFilterEval.supports]], the read
    * path's claim rule) and so enforces the whole predicate exactly —
    * Spark falls back to the copy-on-write rewrite otherwise. Executes
    * store-side per bucket under one new version.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(VectorFilterEval.supports(t.schema, _))

  /** Statistics-driven: buckets the zone maps prove fully-covered drop
    * whole (no row read), provably-untouched buckets keep their
    * array/file by identity — a retention delete on a range layout is
    * a manifest edit plus one boundary-bucket scan
    * ([[BucketStore.deleteWhereFiltered]]).
    */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    BucketStore.deleteWhereFiltered(name, filters)
    ()
  }

  /** `TRUNCATE TABLE graft.t`: all buckets emptied, one new version. */
  override def truncateTable(): Boolean = {
    BucketStore.deleteWhere(name, _ => true)
    true
  }

  override def name(): String = s"graft-buckets:$name"
  override def schema(): StructType = {
    // a time-travel handle shows the PINNED snapshot's schema — after
    // an ADD COLUMN, VERSION AS OF an earlier version reads the world
    // as it was (column and all)
    val base = described.schema
    if (opts.cdc) CdcSchema.of(base) else base
  }
  override def capabilities(): java.util.Set[TableCapability] =
    if (opts.cdc)
      // the change feed is read-only and stream-only. BATCH_READ is
      // declared so a batch read reaches [[CdcScan.toBatch]], which
      // fails with an instructive message instead of the provider
      // framework's generic "not a valid data source"
      Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
    else Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      // full-overwrite only: OverwriteByExpression(true) routes to
      // SupportsTruncate; arbitrary delete conditions stay unsupported
      TableCapability.OVERWRITE_BY_FILTER).asJava

  /** Report the store's hash-bucket layout in table metadata. A
    * replicated table is unpartitioned — every host holds the whole
    * table, so advertising bucket(1, key) would invite the planner to
    * reason about a partitioning that does not discriminate anything.
    */
  override def partitioning(): Array[Transform] = {
    val snap = described
    if (snap.replicated) Array.empty
    else Array(Expressions.bucket(snap.buckets.length, snap.keyCol))
  }

  /** DESCRIBE EXTENDED surface: layout + MVCC state at a glance — of
    * the snapshot this handle reads (pinned for time travel).
    */
  override def properties(): java.util.Map[String, String] = {
    val snap = described
    val props = scala.collection.mutable.LinkedHashMap(
      "num_buckets" -> snap.buckets.length.toString,
      "bucket_key" -> snap.keyCol,
      "current_version" -> snap.version.toString,
      "retained_versions" -> BucketStore.retained(name).length.toString,
      "write.dml.mode" -> BucketStore.dmlModeOf(name))
    if (snap.replicated) props += ("replicate" -> "true")
    snap.clusterCol.foreach(c => props += ("cluster_by" -> c))
    // z-layout observability: whether rank boundaries froze yet (a
    // zorder table before its first data commit interleaves raw bits)
    snap.zBounds.foreach(bs =>
      props += ("zorder.rank_bounds" -> bs.map(_.length).mkString(",")))
    // ... and which KEY-FUNCTION version the stored sort rides (round
    // 20): below-current means legacy decimal-by-double keys — run
    // `CALL graft.reorder` to upgrade; the operator's one-look signal
    if (BucketStore.isZOrder(snap.clusterCol))
      props += ("zorder.key_version" ->
        (if (snap.zKeyVersion >= ZOrder.KEY_VERSION) snap.zKeyVersion.toString
         else s"${snap.zKeyVersion} (legacy — CALL graft.reorder to upgrade)"))
    if (snap.mor.nonEmpty)
      props += ("pending_mor_buckets" -> snap.mor.size.toString)
    props.asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(!opts.upsert,
      "graft-buckets: 'upsert' is a write option — it has no meaning on a scan")
    if (opts.cdc) new CdcScanBuilder(name, opts)
    else new BucketedScanBuilder(name, opts)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // a pinned or CDC handle is read-only: silently writing to CURRENT
    // through a handle the user pinned to the past would be the worst
    // kind of surprise
    require(opts.versionAsOf.isEmpty && !opts.cdc,
      s"graft-buckets: table handle '$name' is read-only — " +
        (if (opts.cdc) "a CDC change feed cannot be written to"
         else "a time-travel pin (versionasof/timestampasof) cannot accept writes"))
    // `upsert=true` selects the keyed-upsert builder, whose
    // SupportsStreamingUpdateAsAppend marker is what admits
    // outputMode("update") — see BucketedUpsertWriteBuilder. Parsed
    // strictly, like ConnectorOptions.parse does on the format path:
    // getBoolean would coerce a typo ('yes') to false and silently run
    // the intended upsert as a duplicate-appending plain write.
    Option(info.options().get("upsert"))
      .map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("true") => new BucketedUpsertWriteBuilder(name, info)
      case Some("false") | None => new BucketedWriteBuilder(name, info)
      case Some(other) => throw new IllegalArgumentException(
        s"graft-buckets: option 'upsert' must be true or false, got '$other'")
    }
  }
}

/** Pushdown: accepts the filter subset [[VectorFilterEval]] enforces
  * exactly; everything else is left for Spark to evaluate post-scan.
  * Aggregates (COUNT/MIN/MAX, optionally grouped) push down as
  * PARTIALS — the reference pins buckets to push computation to the
  * storage node (SnappyDataConnectorHelper.scala:23-25); the
  * Spark-native analog is [[SupportsPushDownAggregates]]: each bucket
  * returns one pre-aggregated row per group and Spark plans only the
  * final merge, so a 100 TB `SELECT count(*)` moves `buckets × groups`
  * rows instead of every row.
  */
class BucketedScanBuilder(name: String, opts: ConnectorOptions = ConnectorOptions.Defaults)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownTableSample {

  // staleness policy (opt-in, [[BucketStore.setRefreshPolicy]]): a
  // reader-only process absorbs foreign commits at plan time, BEFORE
  // the snapshot pins — a time-travel pin reads its named version
  // either way, so the check runs unconditionally and cheaply no-ops
  // for tables that never opted in
  BucketStore.maybeRefresh(name): Unit

  // the PINNED snapshot's schema: filters/pruning/projection resolve
  // against the version actually read (matters after ADD COLUMN)
  private val full: StructType = opts.versionAsOf
    .map(BucketStore.snapshotWithRetry(name, _).schema)
    .getOrElse(BucketStore.getWithRetry(name).schema)
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private var aggSpec: Option[AggSpec] = None
  private var limit: Option[Int] = None
  private var topN: Option[TopNSpec] = None
  private var sample: Option[SampleSpec] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rejected) = filters.partition(VectorFilterEval.supports(full, _))
    pushed = supported
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Partial pushdown only: Spark always plans the final merge
    * (sum-of-counts, min-of-mins), which keeps the store's answer
    * correct per bucket without the connector having to prove global
    * completeness — the scale win (no row movement) is identical.
    */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // a pushed sample must stay BELOW any aggregation; if both were
    // accepted the readers would have to compose them, and a missed
    // composition silently aggregates unsampled rows — decline instead
    if (sample.isDefined) return false
    val spec = AggSpec.from(aggregation, full)
    spec.foreach(s => aggSpec = Some(s))
    spec.isDefined
  }

  /** TABLESAMPLE pushdown: the sample evaluates inside the bucket
    * readers (rows outside the window never cross to Spark) as a
    * DETERMINISTIC hash window over the bucket key — the same Lehmer
    * generator the curation samplers use — so a sampled pipeline is
    * exactly reproducible across runs, partitionings, and engines
    * (the DuckDB oracle replays the identical arithmetic). The seed is
    * deliberately ignored: a seeded RNG sample can't be replayed by an
    * independent engine, and reproducibility is the property a 100 TB
    * curation pipeline actually needs (the store samples like
    * [[graft.operators.Pipelines.stratifiedSample]], not like `rand()`).
    * Declined for replacement sampling, non-integral bucket keys, and
    * scans that already pushed an aggregate.
    */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    val keyType = full(BucketStore.getWithRetry(name).keyCol).dataType
    if (withReplacement || aggSpec.isDefined || !SampleSpec.supported(keyType)) false
    else { sample = Some(SampleSpec(lowerBound, upperBound)); true }
  }

  /** LIMIT n stops each bucket's page iterator after n rows instead of
    * draining the bucket (the fetch loop never dials the next page) —
    * at 100 TB a `LIMIT 10` touches ≤ 10 rows per bucket, not the
    * table. Partial by construction (each bucket applies it locally),
    * so Spark keeps the global Limit above — declared via
    * [[isPartiallyPushed]]. Declined when an aggregate was pushed: the
    * planner never pushes a limit below an aggregate, so accepting one
    * here could only mis-apply it to pre-aggregate rows.
    */
  override def pushLimit(n: Int): Boolean =
    if (aggSpec.isDefined) false else { limit = Some(n); true }

  /** ORDER BY … LIMIT n becomes a per-bucket bounded-heap top-N: each
    * bucket streams once through an n-row heap and ships n rows, so the
    * global sort above sees buckets × n rows, never the table. The
    * heap is reader memory — a pathological `LIMIT 10M ORDER BY` is
    * declined (Spark sorts from raw rows instead) rather than letting
    * the "bounded" heap grow unbounded.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean =
    if (aggSpec.isDefined || n > BucketedScanBuilder.MaxPushedTopN) false
    else TopNSpec.from(orders, n, full) match {
      case Some(spec) => topN = Some(spec); true
      case None => false
    }

  /** Both limit and top-N are per-bucket partials; Spark keeps the
    * final global Limit/Sort. (Single shared override: the two
    * interfaces declare the same default method.)
    */
  override def isPartiallyPushed(): Boolean = true

  /** Hook for row-level operations: the scan reports its planned
    * bucket set here (None = plain read, no recording).
    */
  protected def planListener: Option[Array[Int] => Unit] = None

  /** Hook for the delta DML path: the snapshot version the scan pins —
    * delta positions are relative to it, and the commit re-checks it
    * ([[BucketStore.applyDelta]] optimistic concurrency).
    */
  protected def versionListener: Option[Long => Unit] = None

  /** Filters usable for bucket pruning but NOT row enforcement — the
    * row-level rewrite scan routes ALL its filters here (group
    * semantics: a read bucket must return every row).
    */
  protected def pruneOnlyFilters: Array[Filter] = Array.empty

  override def build(): Scan = {
    // time travel: pin the requested retained snapshot (loud failure
    // at planning if it was vacuumed); otherwise pin current
    val t = opts.versionAsOf
      .map(BucketStore.snapshotWithRetry(name, _))
      .getOrElse(BucketStore.getWithRetry(name))
    // numpartitions is a cross-check, not a knob: parallelism is
    // structurally one split per bucket
    opts.numPartitions.foreach { n =>
      require(n == t.buckets.length,
        s"graft-buckets: numpartitions=$n but table '$name' has ${t.buckets.length} buckets — " +
          "the scan is bucket-pinned (one partition per bucket); omit the option or match it")
    }
    versionListener.foreach(_(t.version))
    aggSpec match {
      case Some(spec) => new BucketedAggScan(name, spec, pushed, t.version, opts.fetchSize)
      case None =>
        new BucketedScan(name, required, pushed, t.version, opts.fetchSize, limit, topN,
          planListener, pruneOnlyFilters, timeTravel = opts.versionAsOf.isDefined,
          sample = sample)
    }
  }
}

/** Deterministic pushed TABLESAMPLE window: keep a row iff the Lehmer
  * hash of its bucket key lands in `[lower·M, upper·M)` — the exact
  * arithmetic of the curation samplers (overflow analysis at
  * [[graft.operators.Pipelines.stratifiedSample]]), replicable in
  * plain SQL. Null keys are NEVER sampled (sentinel hash −1, outside
  * every window) — exactly what the replica computes, where `NULL %`
  * is NULL and fails both bounds.
  */
final case class SampleSpec(lower: Double, upper: Double) {
  def keep(key: Any): Boolean = {
    val h = SampleSpec.hash(key)
    h >= lower * SampleSpec.M && h < upper * SampleSpec.M
  }
  def describe: String = s"pushedSample=[$lower,$upper)"
}

object SampleSpec {
  val M: Long = 2147483647L // 2^31 - 1 (prime)

  /** Sign-FOLLOWING remainder on purpose, matching SQL `%` in both
    * Spark and DuckDB exactly — a negative key hashes negative and
    * falls outside every `[lower·M, upper·M)` window on both engines
    * (the replica must state both bounds; see `sampleScanSql`). A
    * floorMod here would sample negative keys that the plain-SQL
    * replica excludes.
    */
  def hash(key: Any): Long = key match {
    // NULL % M is NULL in SQL, which fails both window bounds — the
    // sentinel keeps reader and replica row-identical on null keys
    // (0 would ride in every window starting at 0 that SQL excludes)
    case null => -1L
    case n: Number =>
      val k = n.longValue() % M
      (k * 48271L % M) * 48271L % M
    case _ => -1L
  }
  /** Integral keys only: the hash must be replayable by an independent
    * engine without 64-bit-overflow gymnastics.
    */
  def supported(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
    case _ => false
  }
}

object BucketedScanBuilder {
  /** Per-bucket heap cap for pushed TopN (rows). */
  val MaxPushedTopN: Int = 100000
}

/** A pushed ORDER BY … LIMIT: sort keys restricted to single orderable
  * columns (ordered by [[KeyOrder]], NaN-safe), with explicit
  * direction and null ordering so the per-bucket heap reproduces
  * Spark's sort semantics exactly.
  */
final case class TopNSpec(keys: Seq[TopNSpec.Key], n: Int) {
  def describe: String = {
    val ks = keys.map(k =>
      s"${k.col} ${if (k.desc) "DESC" else "ASC"} ${if (k.nullsFirst) "NULLS FIRST" else "NULLS LAST"}")
    s"pushedTopN=[${ks.mkString(", ")}] nRows=$n"
  }
}

object TopNSpec {
  final case class Key(col: String, desc: Boolean, nullsFirst: Boolean)

  import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}
  import org.apache.spark.sql.types._

  /** The types a pushed ORDER BY key or MIN/MAX may have. */
  private[bucketed] def orderableType(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType | _: DoubleType |
         _: FloatType | _: DecimalType | _: StringType | _: DateType | _: TimestampType => true
    case _ => false
  }

  def from(orders: Array[SortOrder], n: Int, schema: StructType): Option[TopNSpec] = {
    val keys = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            schema.fieldNames.contains(nr.fieldNames.head) &&
            orderableType(schema(nr.fieldNames.head).dataType) =>
          Some(Key(nr.fieldNames.head,
            o.direction() == SortDirection.DESCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.isEmpty || keys.exists(_.isEmpty) || n <= 0) None
    else Some(TopNSpec(keys.flatten, n))
  }

  /** Row ordering matching the requested sort (ascending = "first"). */
  def ordering(spec: TopNSpec, schema: StructType): Ordering[Row] =
    KeyOrder.rows(schema, spec.keys.map(k => schema.fieldIndex(k.col)).toArray,
      spec.keys.map(_.desc).toArray, spec.keys.map(_.nullsFirst).toArray)
}

/** The pushed-aggregate subset the per-bucket reader evaluates exactly:
  * COUNT(*), COUNT(col), MIN(col), MAX(col), SUM(col) over
  * single-column references, grouped by plain columns. SUM pushes only
  * for integral (partial = Long, the same wrapping add Spark's
  * non-ANSI sum uses) and float/double (partial = Double) columns —
  * decimal stays declined so overflow discipline remains Spark's.
  * Anything else (AVG — not mergeable as-is, DISTINCT, expressions) is
  * declined and Spark computes it from raw rows. Output schema follows
  * the DSv2 contract: group-by columns first, then aggregate columns
  * in `aggregateExpressions` order; the partial SUM's type matches the
  * type Spark's final merge (`Sum` over the partial column) expects.
  */
final case class AggSpec(aggs: Seq[AggSpec.PushedAgg], groupCols: Seq[String],
    full: StructType) {
  import org.apache.spark.sql.types._

  def schema: StructType = StructType(
    groupCols.map(c => full(full.fieldIndex(c))) ++
    aggs.zipWithIndex.map {
      case (AggSpec.PCountStar, i) => StructField(s"count_star_$i", LongType, nullable = false)
      case (AggSpec.PCount(c), i) => StructField(s"count_${c}_$i", LongType, nullable = false)
      case (AggSpec.PMin(c), i) => StructField(s"min_${c}_$i", full(c).dataType, nullable = true)
      case (AggSpec.PMax(c), i) => StructField(s"max_${c}_$i", full(c).dataType, nullable = true)
      case (AggSpec.PSum(c), i) =>
        StructField(s"sum_${c}_$i", AggSpec.sumResultType(full(c).dataType), nullable = true)
    })

  def describe: String = {
    val as = aggs.map {
      case AggSpec.PCountStar => "COUNT(*)"
      case AggSpec.PCount(c) => s"COUNT($c)"
      case AggSpec.PMin(c) => s"MIN($c)"
      case AggSpec.PMax(c) => s"MAX($c)"
      case AggSpec.PSum(c) => s"SUM($c)"
    }
    s"pushedAggs=[${as.mkString(", ")}] groupBy=[${groupCols.mkString(", ")}]"
  }
}

object AggSpec {
  sealed trait PushedAgg
  case object PCountStar extends PushedAgg
  final case class PCount(col: String) extends PushedAgg
  final case class PMin(col: String) extends PushedAgg
  final case class PMax(col: String) extends PushedAgg
  final case class PSum(col: String) extends PushedAgg

  import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.types._

  private def singleCol(e: Expression, schema: StructType): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 &&
      schema.fieldNames.contains(nr.fieldNames.head) => Some(nr.fieldNames.head)
    case _ => None
  }

  /** MIN/MAX only on types [[KeyOrder]] orders exactly. */
  private def orderable(schema: StructType, c: String): Boolean =
    TopNSpec.orderableType(schema(c).dataType)

  /** SUM only where the partial is exactly mergeable by Spark's final
    * `Sum` over the partial column: integrals widen to Long (Spark's
    * own sum(int) partial type), floats to Double. Decimal is declined
    * — its overflow/precision discipline stays with Spark.
    */
  private def summable(schema: StructType, c: String): Boolean = schema(c).dataType match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: DoubleType | _: FloatType => true
    case _ => false
  }

  private[bucketed] def sumResultType(dt: DataType): DataType = dt match {
    case _: DoubleType | _: FloatType => DoubleType
    case _ => LongType
  }

  def from(aggregation: Aggregation, schema: StructType): Option[AggSpec] = {
    val groups = aggregation.groupByExpressions.toSeq.map(singleCol(_, schema))
    if (groups.exists(_.isEmpty)) return None
    val aggs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(PCountStar)
      case c: Count if !c.isDistinct => singleCol(c.column, schema).map(PCount)
      case m: Min => singleCol(m.column, schema).filter(orderable(schema, _)).map(PMin)
      case m: Max => singleCol(m.column, schema).filter(orderable(schema, _)).map(PMax)
      case s: Sum if !s.isDistinct =>
        singleCol(s.column, schema).filter(summable(schema, _)).map(PSum)
      case _ => None
    }
    if (aggs.exists(_.isEmpty) || aggs.isEmpty) None
    else Some(AggSpec(aggs.flatten, groups.flatten, schema))
  }
}

class BucketedScan(name: String, required: StructType, filters: Array[Filter], version: Long,
    fetchSize: Int = 1000, limit: Option[Int] = None, topN: Option[TopNSpec] = None,
    onPlan: Option[Array[Int] => Unit] = None,
    pruneOnly: Array[Filter] = Array.empty,
    timeTravel: Boolean = false,
    sample: Option[SampleSpec] = None)
  extends Scan with Batch with SupportsReportPartitioning with SupportsRuntimeFiltering
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = required

  /** Per-partition output ordering: every bucket's rows are kept
    * sorted on the cluster key (asc, nulls first per column —
    * [[BucketStore.clusterSort]] uses the scan comparator, which
    * matches Spark's NaN-as-largest ordering), so a clustered scan
    * REPORTS that order and the planner elides per-partition Sorts
    * above it — on a key-clustered co-bucketed pair, a sort-merge
    * join then plans with ZERO Exchange and ZERO Sort. A compound key
    * reports the longest PREFIX that survives projection (rows
    * lexicographically sorted on (c1, c2) are sorted on c1 alone, but
    * not on c2 alone — a non-prefix claim would be a lie). A pushed
    * TopN re-orders the stream (bounded heap emission), so no claim
    * is made then. Pushed limits and samples filter/truncate without
    * reordering — the claim stands. A z-order layout sorts by the
    * MORTON code, not by any single column, so it claims nothing
    * (lexClusterColsOf is empty for zorder specs — claiming (a,b)
    * ascending would let the planner elide Sorts it needs).
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val t = BucketStore.snapshotWithRetry(name, version)
    if (topN.nonEmpty) return Array.empty
    BucketStore.lexClusterColsOf(t.clusterCol)
      .takeWhile(required.fieldNames.contains)
      .map(c => Expressions.sort(Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
      .toArray
  }

  /** Report the store's exact row count (the catalog knows it) so the
    * planner's size estimate is real instead of `defaultSizeInBytes` =
    * "assume huge": a small graft dim table then auto-broadcasts in
    * joins against big facts — at 100 TB the difference between a
    * map-side join and an avoidable fact-table shuffle. Size is rows ×
    * the projected schema's default row width (the store is row-
    * oriented; column pruning already shrank `required`).
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val t = BucketStore.snapshotWithRetry(name, version)
    val raw = BucketStore.liveRowCount(t) // merge-on-read deletes excluded
    // a pushed sample shrinks the scan's output by its window width —
    // report the post-sample estimate so join-side decisions see it
    val rows = sample.map(s => (raw * (s.upper - s.lower)).toLong).getOrElse(raw)
    val rowWidth = math.max(1, required.defaultSize)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * rowWidth)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val extra = topN.map(" " + _.describe).orElse(limit.map(n => s" pushedLimit=$n")).getOrElse("") +
      sample.map(" " + _.describe).getOrElse("")
    // surface the clustered-index slice in the plan (audit hook):
    // provable bounds on the cluster key mean the fetch will
    // binary-search the sorted run instead of streaming the bucket
    val snap = BucketStore.snapshotWithRetry(name, version)
    val cluster = ClusterSlice
      .from(filters, snap.schema, BucketStore.lexClusterColsOf(snap.clusterCol))
      .map(s => s" clusterSlice=${s.describe}")
      .getOrElse("")
    s"graft-buckets:$name pushed=[${filters.mkString(", ")}] cols=[${required.fieldNames.mkString(",")}]$extra$cluster"
  }

  // — runtime bucket pruning (the dynamic-partition-pruning analog for
  // the bucket store): a broadcast join against a SELECTIVE dim hands
  // the fact scan the dim's join-key values at runtime; the owning
  // buckets are recomputed and everything else is never dialed. At
  // 100 TB this turns "scan the fact table" into "touch the handful of
  // buckets the dim's surviving keys hash to". Pruning-only by
  // contract: rows are NOT re-filtered against runtime values (the
  // join above re-checks them), so correctness never depends on the
  // runtime filter — only scan cost does, exactly like static
  // [[BucketPruning]].
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only claim the key if this scan still OUTPUTS it — Spark resolves
    // these against the pruned schema, and claiming a projected-away
    // column crashes the DPP rule instead of skipping it
    val key = BucketStore.snapshotWithRetry(name, version).keyCol
    if (required.fieldNames.contains(key)) Array(Expressions.column(key))
    else Array.empty
  }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  override def planInputPartitions(): Array[InputPartition] = {
    // pruneOnly: filters a row-level rewrite scan may use to SKIP
    // whole buckets but must never enforce per row (group semantics:
    // every row of a read bucket must come back)
    val parts = BucketSplits.plan(name, filters ++ pruneOnly ++ runtimeFilters, version)
    // row-level operations record which buckets the rewrite actually
    // read (post static + runtime pruning): commit replaces exactly
    // those groups. Re-planning after filter() re-records — last
    // (most-pruned) plan is the one execution uses.
    onPlan.foreach(f => f(parts.map(_.asInstanceOf[BucketInputPartition].bucket)))
    parts
  }

  /** Streaming read of the same bucket-pinned scan: each micro-batch
    * replays the store snapshot its end offset names, through the same
    * per-bucket partitions, locality hints, and pooled readers as the
    * batch path. See [[BucketMicroBatchStream]].
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a time-travel pin cannot drive a stream (offsets ARE versions);
    // silently streaming current snapshots instead would violate the
    // option contract, so fail at plan time
    require(!timeTravel,
      "graft-buckets: 'versionasof' is batch-only — a snapshot stream's offsets are the " +
        "store versions themselves; drop the option or use spark.read")
    new BucketMicroBatchStream(name, required, filters, fetchSize)
  }

  /** Report the store's hash-bucket layout to the planner: with
    * `spark.sql.sources.v2.bucketing.enabled`, joins between two
    * co-bucketed graft tables on the bucket key become
    * storage-partitioned joins — no Exchange on either side. Each
    * InputPartition's key is its bucket id ([[BucketInputPartition.partitionKey]]).
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val t = BucketStore.snapshotWithRetry(name, version)
    // a RANGE or HRW layout does not satisfy Spark's hash-bucket
    // transform — reporting it would let the planner elide a needed
    // Exchange and co-locate by a function the data does not obey
    if (t.rangeBounds.isDefined || t.hrw)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(t.buckets.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.bucket(t.buckets.length, t.keyCol)), t.buckets.length)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BucketedReaderFactory(required, filters, fetchSize, limit, topN, sample)
}

/** One split per live bucket, after key-equality bucket pruning: a
  * point lookup (or IN) on the bucket key plans ONLY the owning
  * bucket(s) — the reference's bucket-pinned single-get pattern
  * (SET_BUCKETS_FOR_LOCAL_EXECUTION, SnappyDataConnectorHelper.scala:23-25),
  * and at 100 TB the difference between touching one server and
  * scanning the cluster. Shared by the row scan and the pushed-
  * aggregate scan so both prune identically.
  */
private[sources] object BucketSplits {
  /** `keepOneWhenPruned`: a GLOBAL pushed aggregate (no GROUP BY) must
    * emit its one count=0/min=NULL row even when disjoint key-equality
    * conjuncts (`k=1 AND k=2`) prune every bucket — with zero planned
    * partitions Spark's partial-pushdown merge (Sum of partial counts)
    * sees no rows and returns NULL where SQL requires 0. Planning one
    * bucket keeps the reader's empty-bucket row alive; its pushed
    * filters drop every data row, so only the identity-element row
    * survives.
    */
  def plan(name: String, filters: Array[Filter], version: Long,
      keepOneWhenPruned: Boolean = false): Array[InputPartition] = {
    // topology from the PLANNED snapshot, not current — a time-travel
    // or MVCC-pinned scan must split/prune against the version it reads
    val t = BucketStore.snapshotWithRetry(name, version)
    // ORPHAN bucket (reference: SnappyDataConnectorHelper.scala:186-193
    // — a bucket with no live owner is assigned every known server
    // URL): an empty host list degrades to the table's whole fleet as
    // candidates, so the reader's failover dial finds whichever host
    // picked the bucket up, instead of failing at plan time. Loud
    // failure remains for the truly dead topology (no hosts anywhere).
    lazy val fleet: Seq[String] = t.hosts.toSeq.flatten.distinct
    val all = Array.tabulate[InputPartition](t.buckets.length)(b =>
      BucketInputPartition(name, b,
        (if (t.hosts(b).isEmpty) fleet else t.hosts(b)).toArray, version))
    // hash-based key pruning is WRONG under a range layout (ownership
    // is by boundary, not hash) — skip it there; [[BucketSkip]] below
    // prunes key equality/IN/ranges via the per-bucket statistics,
    // which under disjoint range buckets is exact ownership pruning
    val planned =
      if (t.rangeBounds.isDefined) all
      else BucketPruning.candidateBuckets(filters, t.keyCol, t.buckets.length,
        // HRW tables prune point lookups too — ownership is still a
        // pure function of the key, just argmax instead of pmod
        if (t.hrw) BucketStore.hrwBucketFor else BucketFunction.bucketFor) match {
        case Some(keep) =>
          all.filter(p => keep.contains(p.asInstanceOf[BucketInputPartition].bucket))
        case None => all
      }
    // second pruning axis, ANY pushed column: per-bucket zone maps +
    // membership sketches ([[BucketSkip]]) drop buckets that provably
    // hold no matching row — a point lookup on a non-key column opens
    // ~1 reader instead of the fleet. Referenced columns REGISTER as
    // the table's stat columns: this first touch is the one lazy
    // build; every later publish warms changed buckets at commit, so
    // steady-state planning pays zero stat passes (BucketSkipSpec).
    val skipped =
      if (filters.isEmpty) planned
      else {
        BucketStore.registerStatColumns(name, filters.flatMap(_.references)
          .filter(t.schema.fieldNames.contains))
        planned.filter { p =>
          val b = p.asInstanceOf[BucketInputPartition].bucket
          // stats compose base ∪ delta parts WITHOUT materializing any
          // merge-on-read fold — pruning stays O(stats) at plan time
          filters.forall(f => BucketSkip.mayMatch(t.schema,
            (c: String) => BucketStore.skipStatParts(t, b, c), f))
        }
      }
    // a global aggregate still needs its one defining row (count = 0)
    // when every bucket is pruned — but the kept partition is marked
    // prunedEmpty so the reader emits the empty aggregate WITHOUT
    // fetching the bucket (stats proved no row can match; reading a
    // block to filter out every row would be pure wasted I/O)
    if (skipped.isEmpty && keepOneWhenPruned && all.nonEmpty)
      all.take(1).map(p =>
        p.asInstanceOf[BucketInputPartition].copy(prunedEmpty = true): InputPartition)
    else skipped
  }
}

/** Pushed-aggregate scan: one PARTIALLY-aggregated row per
  * (bucket, group) instead of the bucket's rows. Not
  * [[SupportsReportPartitioning]] — the aggregate output generally no
  * longer carries the bucket key, and the final merge's input is
  * `buckets × groups` rows, for which a shuffle is noise.
  */
class BucketedAggScan(name: String, spec: AggSpec, filters: Array[Filter], version: Long,
    fetchSize: Int = 1000)
  extends Scan with Batch {

  override def readSchema(): StructType = spec.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-buckets:$name pushed=[${filters.mkString(", ")}] ${spec.describe}"

  override def planInputPartitions(): Array[InputPartition] =
    BucketSplits.plan(name, filters, version, keepOneWhenPruned = spec.groupCols.isEmpty)

  override def createReaderFactory(): PartitionReaderFactory =
    new BucketedAggReaderFactory(spec, filters, fetchSize)
}

class BucketedAggReaderFactory(spec: AggSpec, filters: Array[Filter], fetchSize: Int)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new BucketedAggPartitionReader(
      partition.asInstanceOf[BucketInputPartition], spec, filters, fetchSize)
}

/** Evaluates the pushed partial aggregate over one bucket, reusing the
  * row reader's pooled/failover connection path and pushed-filter
  * evaluation. This stand-in store computes in the reader process; at
  * a real remote store this loop IS the server-side aggregation the
  * reference pins buckets for — either way the rows never reach Spark.
  *
  * Emits one row per group; with no GROUP BY, exactly one row even for
  * an empty bucket (count = 0, min/max = NULL) so the global-aggregate
  * contract (`SELECT count(*)` on an empty table = 0) survives the
  * merge.
  */
class BucketedAggPartitionReader(p: BucketInputPartition, spec: AggSpec,
    filters: Array[Filter], fetchSize: Int)
  extends PartitionReader[InternalRow] {

  import AggSpec._

  // MVCC: resolve the snapshot this scan pinned at planning — a
  // republish mid-scan does not disturb it (loud failure only if the
  // version left the retention window)
  private val table = BucketStore.snapshotWithRetry(p.table, p.version)

  private val fullSchema = table.schema
  private val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
    .createToCatalystConverter(spec.schema)

  private var conn: HostConnection = _

  /** STATISTICS-SERVED aggregate (the Iceberg stats-only query): an
    * unfiltered, ungrouped COUNT/COUNT(c)/MIN/MAX partial over a clean
    * (no merge-on-read state) bucket is answered from the SAME
    * commit-time zone maps pruning consults — manifest row counts,
    * per-part null counts, min/max under [[KeyOrder]] — without
    * opening the bucket at all. On a reopened 100 TB table,
    * `SELECT min(ts), max(ts), count(*) FROM t` touches ZERO blocks
    * (spec-pinned via [[BucketedAggPartitionReader.statsServedCount]]
    * + `loadedCount`). Stats are built by the same row order a scan
    * would visit, so ties (equal values, −0.0 vs 0.0) resolve
    * identically to the row path — the fast path can never change an
    * answer, only skip the I/O. Any filter, grouping, SUM, or a column
    * without statistics falls back to the row scan. Pending MoR state
    * falls back for value aggregates (a deleted row may be the extreme
    * the stats still carry) — but a pure COUNT(*) stays stats-served:
    * the live count is manifest arithmetic, base + delta − deleted
    * ([[BucketStore.liveCount]]), exact by construction.
    */
  private val statsServed: Option[Array[Any]] =
    if (filters.nonEmpty || spec.groupCols.nonEmpty || p.prunedEmpty ||
      (table.mor.contains(p.bucket) && !spec.aggs.forall(_ == PCountStar))) None
    else {
      val slots = new Array[Any](spec.aggs.length)
      def parts(c: String) = BucketStore.skipStatParts(table, p.bucket, c)
      val ok = spec.aggs.zipWithIndex.forall { case (a, i) =>
        a match {
          case PCountStar =>
            slots(i) = BucketStore.liveCount(table, p.bucket).toLong
            true
          case PCount(c) => parts(c) match {
            case Some(ps) => slots(i) = ps.map(_.nonNullCount.toLong).sum; true
            case None => false
          }
          case PMin(c) => parts(c) match {
            case Some(ps) =>
              val ord = KeyOrder.of(table.schema(c).dataType)
              val vs = ps.flatMap(s => Option(s.min))
              slots(i) =
                if (vs.isEmpty) null
                else vs.reduce((x, y) => if (ord.compare(x, y) <= 0) x else y)
              true
            case None => false
          }
          case PMax(c) => parts(c) match {
            case Some(ps) =>
              val ord = KeyOrder.of(table.schema(c).dataType)
              val vs = ps.flatMap(s => Option(s.max))
              slots(i) =
                if (vs.isEmpty) null
                else vs.reduce((x, y) => if (ord.compare(x, y) >= 0) x else y)
              true
            case None => false
          }
          case PSum(_) => false // a sum needs every value
        }
      }
      if (ok) {
        BucketedAggPartitionReader.statsServedCount.incrementAndGet(): Unit
        Some(slots)
      } else None
    }

  private val out: Iterator[Row] = statsServed match {
    case Some(slots) =>
      // answered from commit metadata — the bucket is never opened
      Iterator.single(Row.fromSeq(slots.toIndexedSeq))
    case None => rowScanAggregate()
  }

  private def rowScanAggregate(): Iterator[Row] = {
    // COLD PROJECTED PATH (round 16; filters + MoR admitted round 17):
    // a pushed aggregate over an evicted, file-backed bucket streams
    // EXACTLY its input columns — aggregate inputs PLUS the filters'
    // referenced columns — from the parquet block: no connection dial,
    // no full-row materialization, no heap-cache fault. Pushed filters
    // evaluate against the projected schema, and plan-time zone-map
    // pruning ([[BucketSplits.plan]]) already dropped buckets that
    // provably hold no match. A bucket with pending merge-on-read state folds
    // INLINE: the deletion bitmap is positional and the projected
    // stream preserves file order, so deleted positions drop as they
    // pass, and the delta rows (always in heap — they load eagerly at
    // open, policy-bounded by auto-compaction) append projected. This
    // is the SUM/group-by analog of the stats-served fast path above:
    // at 100 TB, `SELECT grp, sum(x) WHERE region = 'EU'` on a cold
    // table decodes grp, x, and region — nothing else, through no
    // connection, write-heavy MoR tables included.
    if (!p.prunedEmpty) {
      val blk = table.buckets.block(p.bucket)
      val morState = table.mor.get(p.bucket)
      if (!blk.isLoaded) {
        val names = (spec.groupCols ++ spec.aggs.collect {
          case PCount(c) => c
          case PMin(c) => c
          case PMax(c) => c
          case PSum(c) => c
        } ++ filters.flatMap(_.references).filter(fullSchema.fieldNames.contains))
          .distinct.toSet
        val proj = org.apache.spark.sql.types.StructType(
          fullSchema.fields.filter(fd => names.contains(fd.name)))
        // LIVE delta rows projected to the same shape
        def deltaRows(baseLen: Int): Iterator[Row] = morState match {
          case Some(m) if m.delta.nonEmpty =>
            val idx = proj.fieldNames.map(fullSchema.fieldIndex).toIndexedSeq
            m.liveDelta(baseLen, fullSchema.length).map(r => Row.fromSeq(idx.map(r.get)))
          case _ => Iterator.empty
        }
        blk.file.filter(_.path.nonEmpty) match {
          case Some(f) =>
            // Buckets decode VECTORIZED (round 17): the same direct
            // parquet→ColumnarBatch reader the scan path uses, filters
            // compiled and enforced batch-side, values read out through
            // vector-backed InternalRows — parquet-mr's per-record
            // assembly was the remaining decode cost of this path.
            // MoR buckets ride too (aggregation is order-insensitive,
            // so even CLUSTERED tables qualify here): the deletion
            // bitmap masks base rows by file position — open() skips
            // the parquet-mr row-group predicate whenever any bit is
            // set, keeping positions sequential — and the live delta
            // appends projected + pre-filtered.
            locally {
              val overlay = morState.map { m =>
                (m.deleted, m.liveDelta(blk.rowCount, fullSchema.length)
                  .filter(VectorFilterEval.rows(fullSchema, filters)))
              }
              VectorizedColdScan.open(f.path, fullSchema, proj, filters, 4096,
                overlay = overlay) match {
                case Some(scan) =>
                  try {
                    FileStore.projectedReads.incrementAndGet()
                    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
                      .createToScalaConverter(proj)
                    val rows = new Iterator[Row] {
                      private var it: java.util.Iterator[
                        org.apache.spark.sql.catalyst.InternalRow] = _
                      private def advance(): Boolean = {
                        while ((it == null || !it.hasNext) && scan.nextBatch())
                          it = scan.get().rowIterator()
                        it != null && it.hasNext
                      }
                      override def hasNext: Boolean = advance()
                      override def next(): Row =
                        toScala(it.next()).asInstanceOf[Row]
                    }
                    // filters are already enforced by the compiled
                    // batch evaluator — no re-check
                    return aggregateRows(rows, proj)
                  } finally scan.close()
                // a projected type without a RowColumnVector (a nested
                // column, read under filters or a MoR overlay) or a
                // reader that failed to open: the record reader below
                case None => ()
              }
            }
            val base0 = FileStore.readBlockProjected(f, proj)
            val base = morState match {
              case Some(m) => base0.zipWithIndex.collect {
                case (r, pos) if !m.deleted.get(pos) => r
              }
              case None => base0
            }
            val all = base ++ deltaRows(blk.rowCount)
            return aggregateRows(all.filter(VectorFilterEval.rows(proj, filters)), proj)
          case None if blk.rowCount == 0 && blk.file.isDefined =>
            // manifest-only empty base: only the (possibly empty)
            // delta contributes
            return aggregateRows(deltaRows(0).filter(VectorFilterEval.rows(proj, filters)), proj)
          case None => ()
        }
      }
    }
    val range =
      ClusterSlice.from(filters, table.schema, BucketStore.lexClusterColsOf(table.clusterCol))
    val (c, rows) =
      if (p.prunedEmpty) // planner proved no row matches: emit the
        (null, RowCursor.over(Iterator.empty)) // empty aggregate, read nothing
      else BucketReaderSupport.openWithFailover(p, fetchSize, range, blockFilters = filters)
    conn = c
    aggregateRows(rows.filter(VectorFilterEval.rows(fullSchema, filters)), fullSchema)
  }

  /** Fold `rows` (already filtered, at `schema` arity) into the pushed
    * partials — shared by the connection path (full schema) and the
    * cold projected path (aggregate input columns only).
    */
  private def aggregateRows(rows: Iterator[Row], schema: StructType): Iterator[Row] = {
    val fold = new PartialFold(spec, schema)
    rows.foreach(fold.add)
    fold.result
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (out.hasNext) {
      current = toCatalyst(out.next()).asInstanceOf[InternalRow]
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = if (conn != null) { ConnectionPool.release(conn); conn = null }
}

object BucketedAggPartitionReader {
  /** Partials answered entirely from commit-time statistics (no bucket
    * opened) — the spec hook for the stats-only aggregate fast path.
    *
    * SINGLE-AUDITOR assumption (shared with the other observability
    * hooks: [[BucketStore.lastDeleteOutcome]],
    * [[BucketStore.onRowLevelScanPinned]], [[FileStore.filesRead]]):
    * these are GLOBAL counters read as before/after deltas by gates and
    * specs that run their audited query alone. Concurrent queries in a
    * parallel session would interleave their increments — acceptable
    * for observability, NEVER load-bearing for correctness (no query
    * result depends on any of them).
    */
  val statsServedCount = new java.util.concurrent.atomic.AtomicLong()
}

/** The pushed partial aggregate of one bucket, compiled once per scan:
  * one typed updater per aggregate, resolved before the first row (no
  * per-row match on the aggregate kind), and groups keyed the way
  * Spark groups them ([[PartialFold.groupKey]]), so a bucket emits
  * exactly one partial per group.
  */
private[bucketed] final class PartialFold(spec: AggSpec, schema: StructType) {
  import AggSpec._
  import org.apache.spark.sql.types._

  private val aggs = spec.aggs.toArray
  private val n = aggs.length

  /** One group's state: COUNT and integral SUM in `longs`, floating SUM
    * in `doubles`, MIN/MAX as the row holding the extreme in `best`;
    * `summed(i)` marks a SUM that met a non-null value (a SUM over none
    * is NULL). `key` holds the group columns' first-seen values, the
    * ones emitted.
    */
  private final class Acc(val key: Array[Any]) {
    val longs = new Array[Long](n)
    val doubles = new Array[Double](n)
    val best = new Array[Row](n)
    val summed = new Array[Boolean](n)
  }

  private trait Update { def apply(g: Acc, r: Row): Unit }

  private val sumIsDouble: Array[Boolean] = aggs.map {
    case PSum(c) => AggSpec.sumResultType(schema(c).dataType) == DoubleType
    case _ => false
  }

  private def update(a: PushedAgg, i: Int): Update = a match {
    case PCountStar => (g, _) => g.longs(i) += 1
    case PCount(c) =>
      val j = schema.fieldIndex(c)
      (g, r) => if (!r.isNullAt(j)) g.longs(i) += 1
    case PMin(c) => extreme(c, i, -1)
    case PMax(c) => extreme(c, i, 1)
    // SUM over zero non-null rows stays NULL (Spark's sum semantics);
    // integral adds wrap like Spark's non-ANSI sum; cells are read
    // through the column's typed getter, so no value boxes per row
    case PSum(c) if sumIsDouble(i) =>
      val j = schema.fieldIndex(c)
      def add(g: Acc, d: Double): Unit = {
        g.doubles(i) = if (g.summed(i)) g.doubles(i) + d else d
        g.summed(i) = true
      }
      if (schema(j).dataType == FloatType) (g, r) => { if (!r.isNullAt(j)) add(g, r.getFloat(j).toDouble) }
      else (g, r) => { if (!r.isNullAt(j)) add(g, r.getDouble(j)) }
    case PSum(c) =>
      val j = schema.fieldIndex(c)
      def add(g: Acc, x: Long): Unit = { g.longs(i) += x; g.summed(i) = true }
      schema(j).dataType match {
        case LongType => (g, r) => { if (!r.isNullAt(j)) add(g, r.getLong(j)) }
        case IntegerType => (g, r) => { if (!r.isNullAt(j)) add(g, r.getInt(j).toLong) }
        case ShortType => (g, r) => { if (!r.isNullAt(j)) add(g, r.getShort(j).toLong) }
        case _ => (g, r) => { if (!r.isNullAt(j)) add(g, r.getByte(j).toLong) }
      }
  }

  /** MIN (`sign` -1) or MAX (`sign` 1) under the column's ordering; the
    * first of equal extremes is kept.
    */
  private def extreme(c: String, i: Int, sign: Int): Update = {
    val j = schema.fieldIndex(c)
    val cells = KeyOrder.cells(schema(j).dataType, j)
    (g, r) => {
      if (!r.isNullAt(j) && (g.best(i) == null || cells.compare(r, g.best(i)) * sign > 0)) g.best(i) = r
    }
  }

  private val updates: Array[Update] = Array.tabulate(n)(i => update(aggs(i), i))

  private val extremeCol: Array[Int] = aggs.map {
    case PMin(c) => schema.fieldIndex(c)
    case PMax(c) => schema.fieldIndex(c)
    case _ => -1
  }

  private val gIdx = spec.groupCols.map(schema.fieldIndex).toArray
  private val canon: Array[Any => Any] = gIdx.map(j => PartialFold.groupKey(schema(j).dataType))
  private val groups = new java.util.LinkedHashMap[Any, Acc]()
  // no GROUP BY: one group, emitted even for an empty bucket
  private val global: Acc = if (gIdx.isEmpty) new Acc(Array.empty) else null

  def add(r: Row): Unit = {
    val g = if (global != null) global else group(r)
    var i = 0
    while (i < n) { updates(i)(g, r); i += 1 }
  }

  private def group(r: Row): Acc = {
    val key: Any =
      if (gIdx.length == 1) canon(0)(r.get(gIdx(0)))
      else java.util.Arrays.asList(Array.tabulate[AnyRef](gIdx.length)(k =>
        canon(k)(r.get(gIdx(k))).asInstanceOf[AnyRef]): _*) // element-wise Java equality
    var g = groups.get(key)
    if (g == null) {
      g = new Acc(gIdx.map(r.get))
      groups.put(key, g)
    }
    g
  }

  /** One row per group: the group columns, then one partial per aggregate. */
  def result: Iterator[Row] = {
    val gs = if (global != null) Iterator.single(global) else groups.values.iterator.asScala
    gs.map { g =>
      val out = new Array[Any](g.key.length + n)
      Array.copy(g.key, 0, out, 0, g.key.length)
      var i = 0
      while (i < n) {
        out(g.key.length + i) = aggs(i) match {
          case PCountStar | PCount(_) => g.longs(i)
          case PMin(_) | PMax(_) => if (g.best(i) == null) null else g.best(i).get(extremeCol(i))
          case PSum(_) if !g.summed(i) => null
          case PSum(_) => if (sumIsDouble(i)) g.doubles(i) else g.longs(i)
        }
        i += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
    }
  }
}

object PartialFold {
  import org.apache.spark.sql.types._

  private val ZeroD = java.lang.Double.valueOf(0.0)
  private val NaND = java.lang.Double.valueOf(Double.NaN)
  private val ZeroF = java.lang.Float.valueOf(0.0f)
  private val NaNF = java.lang.Float.valueOf(Float.NaN)

  /** A group column's values in the form whose Java equality is Spark's
    * grouping equality, whatever map holds them: every NaN is one group
    * and -0.0 groups with 0.0 (`java.lang.Double.equals` splits the
    * zeros, Scala's `==` splits every NaN), and binary compares by
    * content (an array compares by reference).
    */
  private[bucketed] def groupKey(dt: DataType): Any => Any = dt match {
    case DoubleType => {
      case d: java.lang.Double =>
        val x = d.doubleValue
        if (x == 0.0) ZeroD else if (x.isNaN) NaND else d
      case other => other
    }
    case FloatType => {
      case f: java.lang.Float =>
        val x = f.floatValue
        if (x == 0.0f) ZeroF else if (x.isNaN) NaNF else f
      case other => other
    }
    case BinaryType => {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case other => other
    }
    case _ => identity
  }
}

/** Conservative bucket pruning from pushed filters.
  *
  * `candidateBuckets(f)` answers: "rows satisfying the filters can
  * live ONLY in these buckets" — `None` means "cannot bound" (scan
  * everything). The algebra is strictly conservative:
  *   - `key = v` / `key <=> v` / `key IN (…)` → the owning bucket(s)
  *     via [[BucketFunction.bucketFor]] (byte-identical to the
  *     load-time hash, integral keys only);
  *   - AND: the intersection of any bounds its sides prove;
  *   - OR: a bound only if BOTH sides are bounded (union);
  *   - anything else (ranges, NOT, other columns): unbounded.
  * Unsupported key types simply never prune — correctness never
  * depends on pruning, only scan cost does.
  */
object BucketPruning {
  /** `route` is the layout's ownership function — [[BucketFunction
    * .bucketFor]] for mod-hash tables (default), [[BucketStore
    * .hrwBucketFor]] for HRW tables — so key-equality pruning follows
    * whatever placement the table actually uses.
    */
  def candidateBuckets(filters: Array[Filter], keyCol: String, n: Int,
      route: (Any, Int) => Option[Int] = BucketFunction.bucketFor): Option[Set[Int]] =
    filters.foldLeft(Option.empty[Set[Int]]) { (acc, f) =>
      (acc, bucketsOf(f, keyCol, n, route)) match {
        case (Some(a), Some(b)) => Some(a intersect b) // conjuncts intersect
        case (a, b) => a.orElse(b)
      }
    }

  private def bucketsOf(f: Filter, keyCol: String, n: Int,
      route: (Any, Int) => Option[Int]): Option[Set[Int]] = f match {
    case EqualTo(c, v) if c == keyCol => route(v, n).map(Set(_))
    case EqualNullSafe(c, v) if c == keyCol => route(v, n).map(Set(_))
    case In(c, vs) if c == keyCol =>
      // early exit once every bucket is live: a runtime IN from a big
      // broadcast dim can carry millions of keys — stop hashing the
      // moment the bound is vacuous (= all n buckets) instead of
      // hashing the whole list at planning time
      val seen = scala.collection.mutable.Set.empty[Int]
      val it = vs.iterator
      while (it.hasNext && seen.size < n) {
        route(it.next(), n) match {
          case Some(b) => seen += b; ()
          case None => return None // unbucketable value type: cannot bound
        }
      }
      if (vs.isEmpty) None else Some(seen.toSet)
    case And(l, r) => (bucketsOf(l, keyCol, n, route), bucketsOf(r, keyCol, n, route)) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }
    case Or(l, r) => for { a <- bucketsOf(l, keyCol, n, route); b <- bucketsOf(r, keyCol, n, route) } yield a union b
    case _ => None
  }
}

/** One split per bucket + its owning hosts (primary, replica). The
  * partition key (bucket ordinal) feeds storage-partitioned joins.
  */
case class BucketInputPartition(table: String, bucket: Int, hosts: Array[String], version: Long,
    prunedEmpty: Boolean = false)
  extends InputPartition with HasPartitionKey {
  override def preferredLocations(): Array[String] = hosts
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Open-time replica failover shared by the row and aggregate readers:
  * dial the split's replica chain (primary first), twice around (one
  * bounded retry round, C9), return the first live host's page cursor
  * plus its borrowed connection (caller releases on close).
  */
private[bucketed] object BucketReaderSupport {
  def openWithFailover(p: BucketInputPartition, fetchSize: Int,
      range: Option[ClusterSlice] = None,
      reverse: Boolean = false,
      blockFilters: Array[Filter] = Array.empty): (HostConnection, RowCursor) = {
    var opened: RowCursor = null
    var conn: HostConnection = null
    var lastErr: java.io.IOException = null
    val attempts = (p.hosts ++ p.hosts).iterator // replicas in order, one retry round
    while (opened == null && attempts.hasNext) {
      val host = attempts.next()
      try {
        val c = ConnectionPool.borrow(host)
        try {
          opened = c.fetchBucket(p.table, p.bucket, p.version, fetchSize, range, reverse,
            blockFilters)
          conn = c
        } catch {
          // open failed AFTER a successful borrow — ANY failure, not
          // just IO (a concurrent table reload throws IllegalArgument
          // from the store require): return the connection instead of
          // orphaning it (in a remote store an abandoned live
          // connection leaks a server-side session)
          case e: Throwable => ConnectionPool.release(c); throw e
        }
      } catch {
        // vacuumed files are DETERMINISTIC, not transient: every
        // replica shares the directory, so retrying would only bury
        // the named remedy under "all replicas unreachable" (found
        // live by TwoJvmCdcVacuumSpec — a mid-feed CDC consumer must
        // surface the vacuum contract, not a connectivity misdiagnosis)
        case e: FileStore.VacuumedFilesException => throw e
        case e: java.io.IOException => lastErr = e
      }
    }
    if (opened == null)
      throw new java.io.IOException(
        s"all replicas of bucket ${p.bucket} (${p.hosts.mkString(", ")}) are unreachable", lastErr)
    (conn, opened)
  }
}

class BucketedReaderFactory(required: StructType, filters: Array[Filter], fetchSize: Int = 1000,
    limit: Option[Int] = None, topN: Option[TopNSpec] = None,
    sample: Option[SampleSpec] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BucketInputPartition]
    new BucketedPartitionReader(p, required, filters, fetchSize, limit, topN, sample)
  }

  /** Batches whenever every projected type has a [[RowColumnVector]];
    * a projected nested type takes the row reader for the whole scan,
    * never mid-stream. See [[BucketedColumnarPartitionReader]].
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    required.fields.forall(f => RowColumnVector.supported(f.dataType))

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[BucketInputPartition]
    new BucketedColumnarPartitionReader(p, required, filters, fetchSize, limit, topN, sample)
  }
}

/** Streams the bucket's rows through a pooled, host-affine connection
  * (C6/C7 — reference: ConnectionPool.scala:12-76,
  * SnappyDataConnectorHelper.scala:44-91), applying pushed filters and
  * the column projection before converting to InternalRow.
  *
  * Open-time failover: the split carries the bucket's replica chain
  * (primary first); the reader dials each in order, twice around (one
  * bounded retry round, C9), and reads from the first live host. A
  * host lost AFTER open fails the page fetch → the task fails → Spark
  * task retry re-plans the split against the then-live replicas; no
  * hand-rolled mid-stream resume.
  */
/** The shared open→slice→sample→filter→top-n/limit pipeline over one
  * bucket split, yielding rows with their physical positions: both the row
  * reader and the columnar reader consume exactly this stream, so the
  * two paths cannot diverge on pushdown semantics.
  */
private[bucketed] final class BucketRowStream(p: BucketInputPartition,
    filters: Array[Filter], fetchSize: Int,
    limit: Option[Int], topN: Option[TopNSpec], sample: Option[SampleSpec]) {

  // MVCC: read exactly the snapshot pinned at planning (see the agg
  // reader's note); version drift no longer aborts the scan
  val table: BucketStore.BucketTable = BucketStore.snapshotWithRetry(p.table, p.version)

  private[bucketed] val fullSchema = table.schema

  private var conn: HostConnection = _

  // index-ordered TopN: when the sort keys are a PREFIX of the cluster
  // key in a layout-compatible order, the stream arrives in output
  // order and take(n) is the per-bucket top n — page fetches stop
  // after n qualifying rows (ORDER BY ts LIMIT 10 on a clustered
  // 100 TB table reads ~10 rows per bucket). All-ascending/nulls-first
  // is the stored (lexicographic) order; all-descending/nulls-last is
  // the same run streamed in reverse (the server walks the slice
  // back-to-front). Mixed directions or other null orderings fall
  // back to the bounded heap.
  private val indexOrderedReverse: Option[Boolean] = {
    // lex only: a z-order bucket streams in Morton order, so a sort
    // prefix of its COLUMNS is not index order — fall back to the heap
    val clusterCols = BucketStore.lexClusterColsOf(table.clusterCol)
    topN.collect {
      case spec if clusterCols.startsWith(spec.keys.map(_.col)) &&
          spec.keys.forall(k => !k.desc && k.nullsFirst) => false
      case spec if clusterCols.startsWith(spec.keys.map(_.col)) &&
          spec.keys.forall(k => k.desc && !k.nullsFirst) => true
    }
  }

  /** The bucket's kept rows in output order; `it.pos` names each one's
    * physical position.
    */
  val it: RowCursor = {
    // clustered-index slice: provable cluster-key bounds narrow the
    // fetch to the qualifying run of the sorted bucket (pages moved ∝
    // answer); every row is still filter-checked below, so the slice
    // is never load-bearing for correctness
    val range =
      ClusterSlice.from(filters, table.schema, BucketStore.lexClusterColsOf(table.clusterCol))
    val (c, rows) = BucketReaderSupport.openWithFailover(p, fetchSize, range,
      reverse = indexOrderedReverse.contains(true), blockFilters = filters)
    conn = c
    // pushed TABLESAMPLE evaluates here, before limit/top-N, so both
    // apply to the sampled stream (the plan order they replaced)
    val pred = VectorFilterEval.rows(fullSchema, filters)
    val keep: Row => Boolean = sample match {
      case Some(s) =>
        val keyIdx = fullSchema.fieldIndex(table.keyCol)
        r => s.keep(r.get(keyIdx)) && pred(r)
      case None => pred
    }
    topN match {
      case Some(spec) if indexOrderedReverse.isDefined =>
        new KeptRows(rows, keep, spec.n)
      case Some(spec) =>
        // bounded heap: one pass, O(n) memory — keep the n first rows
        // under the requested ordering (the max-heap's head is the
        // current worst keeper, and only a row ranking strictly before
        // it displaces it). The global Sort+Limit above re-ranks the
        // buckets' n-row survivors.
        val rowOrd = TopNSpec.ordering(spec, fullSchema)
        val heap = new scala.collection.mutable.PriorityQueue[(Row, Int)]()(rowOrd.on(_._1))
        val kept = new KeptRows(rows, keep, Int.MaxValue)
        while (kept.hasNext) {
          val r = kept.next()
          if (heap.size < spec.n) heap += ((r, kept.pos))
          else if (rowOrd.lt(r, heap.head._1)) { heap.dequeue(); heap += ((r, kept.pos)) }
        }
        RowCursor.over(heap.dequeueAll.reverseIterator)
      case None =>
        // the limit is lazy: page fetches stop once n rows have passed
        // the pushed filters
        new KeptRows(rows, keep, limit.getOrElse(Int.MaxValue))
    }
  }

  def close(): Unit = if (conn != null) { ConnectionPool.release(conn); conn = null }
}

class BucketedPartitionReader(p: BucketInputPartition, required: StructType,
    filters: Array[Filter], fetchSize: Int = 1000,
    limit: Option[Int] = None, topN: Option[TopNSpec] = None,
    sample: Option[SampleSpec] = None)
  extends PartitionReader[InternalRow] {

  private val stream = new BucketRowStream(p, filters, fetchSize, limit, topN, sample)

  /** One converter per output column, from the fetched row and its
    * physical position straight to the column's Catalyst value: data
    * columns convert the fetched row's value; the `_bucket`/`_pos`
    * METADATA columns ([[BucketedTable.MetaBucket]]) synthesize the row
    * id the delta DML path addresses — requested only by row-level
    * rewrites (or an explicit SELECT), absent from ordinary scans.
    */
  private def column(f: org.apache.spark.sql.types.StructField): BucketedPartitionReader.Cell =
    f.name match {
      case BucketedTable.MetaBucket => (_, _) => p.bucket
      case BucketedTable.MetaPos => (_, pos) => pos
      case n =>
        val i = stream.fullSchema.fieldIndex(n)
        val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType)
        (r, _) => toCatalyst(r.get(i))
    }

  private val columns = required.fields.map(column)

  private var current: InternalRow = _

  override def next(): Boolean =
    if (stream.it.hasNext) {
      val r = stream.it.next()
      val pos = stream.it.pos
      val values = new Array[Any](columns.length)
      var c = 0
      while (c < columns.length) { values(c) = columns(c)(r, pos); c += 1 }
      current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = stream.close()
}

object BucketedPartitionReader {
  /** One output column's value from a fetched row at physical `pos`. */
  private[bucketed] trait Cell { def apply(r: Row, pos: Int): Any }
}

/** The scan's batch reader: every scan whose projected types all have
  * a [[RowColumnVector]] reads here, and Spark consumes the batches
  * through its `ColumnarToRow` bridge. A cold clean bucket decodes its
  * block file straight into vectors ([[VectorizedColdScan]]). Every
  * other bucket streams through the same [[BucketRowStream]] as the
  * row reader, and each page of up to `batchSize` kept rows is handed
  * on as a view: the page holds references to the stored rows, each
  * data column is a [[RowColumnVector]] over them, and `_bucket` /
  * `_pos` are int columns (the bucket, and each row's position). No
  * cell is copied.
  */
class BucketedColumnarPartitionReader(p: BucketInputPartition, required: StructType,
    filters: Array[Filter], fetchSize: Int = 1000,
    limit: Option[Int] = None, topN: Option[TopNSpec] = None,
    sample: Option[SampleSpec] = None, batchSize: Int = 4096)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  /** DIRECT VECTORIZED path (round 16; filters admitted round 17): a
    * COLD (evicted/reopened), clean bucket reads its parquet block
    * through Spark's own [[org.apache.spark.sql.execution.datasources
    * .parquet.VectorizedParquetRecordReader]] straight into
    * `ColumnarBatch`es — no `InternalRow → Row → vector` double
    * conversion, real column pruning at the file (only the projected +
    * filter columns decode), and NOTHING faults into the heap block
    * cache (a cold analytical sweep must not evict the hot working
    * set). PUSHED FILTERS ride the path end-to-end: a conservative
    * parquet predicate ([[ParquetPruning]]) drops row groups/pages by
    * their statistics, and a compiled vector evaluator
    * ([[VectorFilterEval]]) enforces the filters exactly per batch,
    * compacting survivors into the output vectors — `WHERE` + cold
    * scan, the dominant shape at 100 TB, no longer pays the
    * row-materializing fallback. Pushed per-bucket LIMITs ride too
    * (decode stops after n qualifying rows — a cold `LIMIT 10` reads
    * ~one batch per bucket). Eligibility is decided at open, never
    * mid-stream, and never by a filter's shape: every claimed filter
    * compiles. The row-stream pages serve sample/top-N pushdown,
    * metadata columns, an empty projection, an already-loaded block
    * (its pages are views of the rows in the heap), a bucket with no
    * block file, and the declines of [[VectorizedColdScan.open]]: a
    * projected type with no [[RowColumnVector]] under filters, a limit
    * or an overlay, a merge key without a vector compare, and a reader
    * that fails to open. PRE-ALTER FILES ARE ADMITTED: the
    * reader initializes with the TABLE's requested schema, so parquet
    * schema evolution serves a column the file lacks as a null
    * vector — the NULL-pad contract at vector speed — and one
    * `ALTER TABLE ADD COLUMN` does NOT demote the table from the
    * fast path (spec-pinned: plain, filtered, OR-across-old/new-
    * column, and mixed short/full file shapes all decode
    * vectorized). File order equals
    * stored (cluster) order and filtering preserves it, so reported
    * output ordering survives.
    */
  private val vectorized: Option[VectorizedColdScan] = tryVectorized()

  private def tryVectorized(): Option[VectorizedColdScan] = {
    if (sample.nonEmpty || topN.nonEmpty ||
      required.isEmpty ||
      required.fieldNames.exists(n =>
        n == BucketedTable.MetaBucket || n == BucketedTable.MetaPos)) None
    else {
      val t = BucketStore.snapshotWithRetry(p.table, p.version)
      val morState = t.mor.get(p.bucket)
      val blk = t.buckets.block(p.bucket)
      // EVERY MoR shape rides vectorized (rounds 17-18): a
      // NON-clustered fold APPENDS live delta after live base (exactly
      // what the overlay emits); a DELETE-ONLY bucket (the
      // retention-job shape) just masks base positions, which
      // preserves any order; a LEX-CLUSTERED bucket with live delta
      // SORTED-MERGES the delta into the base stream (mergeCols —
      // comparator parity with the fold is spec-pinned); and a
      // Z-ORDER bucket with live delta (round 18) sorted-merges on
      // the rank-normalized Morton key — base keys computed straight
      // off the vectors ([[VectorizedColdScan.zBatchKey]]), delta
      // keys by the store's own zKeyOf, byte-parity spec-pinned.
      val lexCols = BucketStore.lexClusterColsOf(t.clusterCol)
      val zCols: Option[Seq[String]] =
        if (BucketStore.isZOrder(t.clusterCol)) t.clusterCol.flatMap(ZOrder.colsOf)
        else None
      if (blk.isLoaded) None
      else blk.file.filter(f => f.path.nonEmpty && f.rows > 0).flatMap { f =>
        // pre-ALTER short delta rows NULL-pad to full arity so the scan
        // filters see every referenced column
        val overlay = morState.map { m =>
          (m.deleted, m.liveDelta(blk.rowCount, t.schema.length)
            .filter(VectorFilterEval.rows(t.schema, filters)))
        }
        val merging = morState.exists(_.liveDelta(blk.rowCount, t.schema.length).hasNext)
        val mergeCols = if (lexCols.nonEmpty && merging) lexCols else Seq.empty[String]
        val zMerge = zCols.filter(_ => merging)
          .map(cs => (cs, t.zBounds, BucketStore.zKeyOf(t), t.zKeyVersion))
        VectorizedColdScan.open(f.path, t.schema, required, filters, batchSize, limit,
          overlay, mergeCols, zMerge)
      }
    }
  }

  // — row-stream pages (lazy: the vectorized path must not dial a
  //   store connection) —

  private lazy val stream = new BucketRowStream(p, filters, fetchSize, limit, topN, sample)

  private lazy val page = new Array[Row](batchSize)
  private lazy val positions = new Array[Int](batchSize)
  private lazy val batch = new ColumnarBatch(required.fields.map[ColumnVector] { f =>
    f.name match {
      case BucketedTable.MetaBucket => new IntsVector(Array.fill(batchSize)(p.bucket))
      case BucketedTable.MetaPos => new IntsVector(positions)
      case n => new RowColumnVector(f.dataType, page, stream.fullSchema.fieldIndex(n))
    }
  })

  override def next(): Boolean = vectorized match {
    case Some(v) => v.nextBatch()
    case None =>
      val it = stream.it
      var n = 0
      while (n < batchSize && it.hasNext) {
        page(n) = it.next()
        positions(n) = it.pos
        n += 1
      }
      batch.setNumRows(n)
      n > 0
  }

  override def get(): ColumnarBatch = vectorized match {
    case Some(v) => v.get()
    case None => batch
  }

  override def close(): Unit = vectorized match {
    case Some(v) => v.close()
    case None =>
      batch.close()
      stream.close()
  }
}

/** One open cold-bucket vectorized scan: Spark's vectorized parquet
  * reader initialized with the store's OWN requested schema (the exact
  * projected + filter columns, typed from the table schema — never
  * file-derived flag guesses), plus batch-level filter enforcement and
  * survivor compaction when filters are pushed. See the path scaladoc
  * on [[BucketedColumnarPartitionReader]].
  */
private[bucketed] final class VectorizedColdScan(
    reader: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader,
    readStruct: StructType, required: StructType,
    filterFn: KeyOrder.BatchTest,
    batchSize: Int, limit: Option[Int],
    // merge-on-read overlay (round 17): `deleted` masks base rows by
    // FILE position (null ⇔ no positional deletes — the caller passes
    // null for an empty bitmap so the no-copy fast paths stay live);
    // `delta` are the bucket's LIVE delta rows, already filtered and
    // projected to `required` by the caller, appended after the base
    // exhausts. Position arithmetic requires that no parquet-mr
    // row-group predicate was set when `deleted` is non-null ([[
    // VectorizedColdScan.open]] enforces that pairing).
    deleted: java.util.BitSet = null,
    delta: Iterator[Row] = Iterator.empty,
    // non-null ⇔ SORTED-MERGE mode (clustered table with live delta):
    // delta rows interleave into the base stream at their cluster-key
    // positions instead of appending: `mergeKey` compares a base row
    // with the pending delta row in the cluster order. Ties emit base
    // first — exactly [[BucketStore.folded]]'s merge.
    mergeKey: KeyOrder.BatchKey = null,
    // non-null ⇔ Z-ORDER SORTED-MERGE mode (round 18): the serving
    // order is the rank-normalized Morton curve, so base rows key
    // through [[VectorizedColdScan.zBatchKey]] straight off the
    // vectors and delta rows arrive pre-keyed and pre-sorted in
    // `zDelta` (keys computed by the store's own zKeyOf over the
    // full-arity rows). Comparison is [[ZOrder.cmp]]; ties emit base
    // first — the fold's stable `old ++ add` sort, exactly like the
    // lexicographic mode.
    zBaseKey: (org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Array[Long] = null,
    zDelta: Iterator[(Row, Array[Long])] = Iterator.empty) {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  // compaction state exists only on the filtered/limited path, and
  // only allocates when a batch is actually partial
  private lazy val outVectors = OnHeapColumnVector.allocateColumns(batchSize, required)
  private lazy val outBatch = new ColumnarBatch(
    outVectors.map(_.asInstanceOf[org.apache.spark.sql.vectorized.ColumnVector]))
  private lazy val copiers = required.fields.map(f => VectorizedColdScan.copier(f.dataType))
  private lazy val sel = new Array[Int](batchSize)
  private var usedOut = false

  // pushed per-bucket LIMIT: stop decoding once n qualifying rows have
  // been emitted — a LIMIT 10 reads ~one batch per bucket, not the file
  private var remaining: Int = limit.getOrElse(Int.MaxValue)

  private var current: ColumnarBatch = _

  // running FILE position of the first row of the current base batch —
  // the deletion bitmap is positional, and with no parquet-mr predicate
  // set (the open() pairing rule) decoded batches are exactly the file
  // rows in order, so `filePos + r` IS row r's physical position
  private var filePos = 0
  private var inDelta = false

  /** DELTA rows as a batch: a page of rows already projected to
    * `required` (so the field index is the row index), read in place
    * through [[RowColumnVector]]s. The appended tail hands it on as it
    * is; the merge copies one row at a time out of it.
    */
  private lazy val deltaPage = new Array[Row](batchSize)
  private lazy val deltaBatch = new ColumnarBatch(required.fields.zipWithIndex.map[ColumnVector] {
    case (f, i) => new RowColumnVector(f.dataType, deltaPage, i)
  })

  /** Copy row `r` of `in` into output slot `k`. */
  private def copyRow(in: ColumnarBatch, r: Int, k: Int): Unit = {
    var c = 0
    while (c < copiers.length) {
      val src = in.column(c)
      if (src.isNullAt(r)) outVectors(c).putNull(k) else copiers(c)(src, r, outVectors(c), k)
      c += 1
    }
  }

  def nextBatch(): Boolean = {
    if (mergeKey != null || zBaseKey != null) return mergedBatch()
    if (!inDelta) {
      if (baseBatch()) return true
      inDelta = true
    }
    deltaTail()
  }

  // — sorted-merge state (merge mode only) —
  private var curIn: ColumnarBatch = _
  private var curSelLen = 0
  private var curSelPos = 0
  private var pendingDelta: Row = _
  private var pendingZ: Array[Long] = _
  private var deltaInit = false

  /** Ensure a base survivor is available (advancing reader batches as
    * needed); false when the base is exhausted.
    */
  /** Advance the parquet reader one batch, counting decoded rows —
    * row groups the pushed predicate pruned never reach here, so the
    * counter is the spec-level observable for row-group skipping.
    */
  private def advanceReader(): Boolean = {
    val has = reader.nextBatch()
    if (has)
      FileStore.vectorRowsDecoded.addAndGet(reader.resultBatch().numRows().toLong): Unit
    has
  }

  private def advanceBase(): Boolean = {
    while (curIn == null || curSelPos >= curSelLen) {
      if (!advanceReader()) { curIn = null; return false }
      curIn = reader.resultBatch()
      val n = curIn.numRows()
      val pos0 = filePos
      filePos += n
      var kept = 0
      var r = 0
      while (r < n) {
        if ((deleted == null || !deleted.get(pos0 + r)) &&
          (filterFn == null || filterFn(curIn, r))) { sel(kept) = r; kept += 1 }
        r += 1
      }
      curSelLen = kept
      curSelPos = 0
    }
    true
  }

  private def advanceDelta(): Unit = {
    if (zBaseKey != null) {
      if (zDelta.hasNext) {
        val (r, zk) = zDelta.next()
        pendingDelta = r
        pendingZ = zk
      } else pendingDelta = null
    } else if (delta.hasNext) {
      pendingDelta = delta.next()
      mergeKey.set(pendingDelta)
    } else pendingDelta = null
  }

  /** Emit one merged batch: base survivors and live delta rows
    * interleaved in cluster order (ties: base first), each copied into
    * the output vectors by the copiers.
    */
  private def mergedBatch(): Boolean = {
    if (!deltaInit) { advanceDelta(); deltaInit = true }
    if (remaining <= 0) return false
    outVectors.foreach(_.reset())
    usedOut = true
    var k = 0
    val cap = math.min(batchSize, remaining)
    var more = true
    while (k < cap && more) {
      val haveBase = advanceBase()
      if (!haveBase && pendingDelta == null) more = false
      else {
        def baseFirst: Boolean = {
          val r = sel(curSelPos)
          val c = if (zBaseKey != null) ZOrder.cmp(zBaseKey(curIn, r), pendingZ)
                  else mergeKey.compare(curIn, r)
          c <= 0 // ties: base first, the fold's stable-sort order
        }
        if (haveBase && (pendingDelta == null || baseFirst)) {
          copyRow(curIn, sel(curSelPos), k)
          curSelPos += 1
        } else {
          deltaPage(0) = pendingDelta
          copyRow(deltaBatch, 0, k)
          advanceDelta()
        }
        k += 1
      }
    }
    outBatch.setNumRows(k)
    remaining -= k
    current = outBatch
    k > 0
  }

  private def baseBatch(): Boolean = {
    if (filterFn == null && limit.isEmpty && deleted == null) {
      val has = advanceReader()
      if (has) current = reader.resultBatch()
      has
    } else {
      if (remaining <= 0) return false
      while (advanceReader()) {
        val in = reader.resultBatch()
        val n = in.numRows()
        val pos0 = filePos
        filePos += n
        var kept = 0
        var r = 0
        while (r < n && kept < remaining) {
          if ((deleted == null || !deleted.get(pos0 + r)) &&
            (filterFn == null || filterFn(in, r))) { sel(kept) = r; kept += 1 }
          r += 1
        }
        if (kept == n && readStruct.length == required.length) {
          // whole batch qualifies within the limit and carries no
          // extra filter columns: hand the reader's batch through
          // without a copy (the common case once row-group pruning has
          // dropped non-matching data)
          remaining -= kept
          current = in
          return true
        } else if (kept > 0) {
          outVectors.foreach(_.reset())
          usedOut = true
          var c = 0
          while (c < copiers.length) {
            // required fields are the FIRST readStruct columns, so the
            // output column index equals the input column index
            val src = in.column(c)
            val dst = outVectors(c)
            val copy = copiers(c)
            var k = 0
            while (k < kept) {
              if (src.isNullAt(sel(k))) dst.putNull(k) else copy(src, sel(k), dst, k)
              k += 1
            }
            c += 1
          }
          outBatch.setNumRows(kept)
          remaining -= kept
          current = outBatch
          return true
        }
        // kept == 0: every row of this batch filtered out — keep reading
      }
      false
    }
  }

  /** Emit the live delta rows (already filtered + projected by the
    * caller) in append order after the base exhausts — for a
    * NON-clustered table that IS the fold's serving order
    * ([[BucketStore.folded]] appends live delta after live base), so
    * the vectorized MoR scan is row-for-row the row path.
    */
  private def deltaTail(): Boolean = {
    if (remaining <= 0 || !delta.hasNext) return false
    var k = 0
    val cap = math.min(batchSize, remaining)
    while (k < cap && delta.hasNext) {
      deltaPage(k) = delta.next()
      k += 1
    }
    deltaBatch.setNumRows(k)
    remaining -= k
    current = deltaBatch
    k > 0
  }

  def get(): ColumnarBatch = current

  def close(): Unit = {
    reader.close()
    if (usedOut) outBatch.close()
  }
}

private[bucketed] object VectorizedColdScan {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnVector

  /** Open the vectorized reader over one block file, or None (the row
    * path serves it) when: filters, a limit or an overlay need the
    * compaction copiers and a projected type has no [[RowColumnVector]]
    * (a nested type); a merge column has no vector compare, or a z
    * dimension no vector key; or the reader fails to initialize. The
    * filters are claimed ones ([[VectorFilterEval.supports]]), so they
    * always compile. On ANY init failure the partially-initialized
    * reader is CLOSED before falling back — a dropped open parquet
    * reader leaks its input stream.
    */
  def open(path: String, fullSchema: StructType, required: StructType,
      filters: Array[Filter], batchSize: Int,
      limit: Option[Int] = None,
      // merge-on-read overlay: (positional deletion bitmap, live delta
      // rows at FULL table arity — possibly NULL-padded pre-ALTER —
      // already filtered; this method projects them to the read
      // schema). When the bitmap has ANY bit set, the parquet-mr
      // row-group predicate is NOT installed — predicate pruning
      // shifts file positions and the bitmap is positional — and
      // filtering falls entirely to the compiled batch evaluator; an
      // all-clear bitmap (pure-insert MoR) keeps full row-group
      // pruning.
      overlay: Option[(java.util.BitSet, Iterator[Row])] = None,
      // non-empty ⇔ SORTED-MERGE mode: the bucket's serving order is
      // the lexicographic cluster order over these columns (nulls
      // first, [[KeyOrder]] per component — the fold's comparator),
      // so live delta rows interleave into the base stream instead of
      // appending. Columns join the read schema; an unsupported
      // cluster type falls back to the fold path (None).
      mergeCols: Seq[String] = Nil,
      // defined ⇔ Z-ORDER SORTED-MERGE mode (round 18): (z columns,
      // frozen rank bounds, the store's full-arity Morton key fn for
      // delta rows, the layout's key version — the batch-side keys
      // must be computed in the SAME key space the table is sorted
      // in). The z columns join the read schema so base rows
      // key straight off the vectors ([[zBatchKey]]); an unsupported
      // dimension type falls back to the fold path (None). Mutually
      // exclusive with `mergeCols`.
      zMerge: Option[(Seq[String], Option[Array[Array[Long]]], Row => Array[Long], Int)] = None)
      : Option[VectorizedColdScan] = {
    // the read schema appends the filters' (and merge keys') extra
    // columns AFTER the projected ones, typed from the table schema —
    // compaction then maps output column i to input column i
    val extras = (filters.flatMap(_.references) ++ mergeCols ++
        zMerge.map(_._1).getOrElse(Nil)).distinct
      .filterNot(required.fieldNames.contains)
      .filter(fullSchema.fieldNames.contains)
    val readStruct: StructType =
      if (extras.isEmpty) required
      else StructType(required.fields ++ extras.map(fullSchema(_)))
    val filterFn =
      if (filters.isEmpty) null
      else VectorFilterEval.compile(readStruct, filters)
    // filters, a limit or an overlay need the compaction copiers (a
    // truncated/partial batch re-materializes into the output vectors)
    if ((filters.nonEmpty || limit.nonEmpty || overlay.nonEmpty) &&
      !required.fields.forall(f => RowColumnVector.supported(f.dataType)))
      return None
    // sorted-merge machinery: the cluster order between a base row's
    // vectors and a delta row. A key column without a vector compare
    // falls back to the fold path before a reader is opened.
    val mergeIdx: Array[Int] =
      if (mergeCols.isEmpty) null
      else if (!mergeCols.forall(readStruct.fieldNames.contains)) return None
      else mergeCols.map(readStruct.fieldIndex).toArray
    if (mergeIdx != null &&
      !mergeIdx.forall(ci => KeyOrder.vectorOrderable(readStruct(ci).dataType))) return None
    // z-order merge machinery: the batch-side Morton key over the z
    // columns at their readStruct positions. A dimension type without
    // a vector key falls back to the fold path before a reader opens.
    val zBase: Option[(org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Array[Long]] =
      zMerge match {
        case None => None
        case Some((zCols, zBounds, _, zkv)) =>
          if (!zCols.forall(readStruct.fieldNames.contains)) return None
          zBatchKey(readStruct, zCols.map(readStruct.fieldIndex).toArray, zBounds, zkv) match {
            case None => return None
            case some => some
          }
      }
    // projection of the full-arity delta rows to the read schema (the
    // first |required| fields feed the output vectors; merge keys sit
    // at their readStruct positions). In merge mode the live delta is
    // SORTED on the cluster key first — the fold sorts its delta
    // before merging ([[BucketStore.fold]]'s sortWith is stable, so a
    // stable sortWith here keeps tied delta rows in commit order too.
    // z mode pairs each live delta row with its Morton key (computed
    // at FULL arity by the store's own key fn — the exact key the
    // fold sorts by) and pre-sorts stably; the overlay iterator is
    // consumed by exactly ONE of the two delta streams
    val zDeltaSorted: Iterator[(Row, Array[Long])] = (zMerge, overlay) match {
      case (Some((_, _, keyFn, _)), Some((_, it))) =>
        val idx = readStruct.fieldNames.map(fullSchema.fieldIndex).toIndexedSeq
        it.map { dr =>
          val zk = keyFn(dr)
          (Row.fromSeq(idx.map(i => if (i < dr.size) dr.get(i) else null)), zk)
        }.toArray.sortWith((a, b) => ZOrder.cmp(a._2, b._2) < 0).iterator
      case _ => Iterator.empty
    }
    val deltaProjected: Iterator[Row] =
      if (zMerge.nonEmpty) Iterator.empty
      else overlay.map { case (_, it) =>
        val idx = readStruct.fieldNames.map(fullSchema.fieldIndex).toIndexedSeq
        val projected = it.map(dr => Row.fromSeq(idx.map(i => if (i < dr.size) dr.get(i) else null)))
        if (mergeIdx == null) projected
        else {
          val ord = KeyOrder.rows(readStruct, mergeIdx)
          // policy-bounded materialization: the delta is heap-resident
          // by construction (≤ autoCompactRatioPct of the base)
          projected.toArray.sortWith((a, b) => ord.compare(a, b) < 0).iterator
        }
      }.getOrElse(Iterator.empty)
    var r: org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = null
    try {
      r = new org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC",
          false, batchSize)
      val conf = FileStore.readerConf(readStruct.json)
      conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
      val positional = overlay.exists(o => !o._1.isEmpty)
      if (filters.nonEmpty && !positional)
        ParquetPruning.predicate(readStruct, filters).foreach(pred =>
          org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, pred))
      val hp = new org.apache.hadoop.fs.Path(path)
      val split = new org.apache.hadoop.mapred.FileSplit(hp, 0,
        java.nio.file.Files.size(java.nio.file.Paths.get(path)), Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
      r.initialize(split, ctx)
      r.initBatch(new StructType(), org.apache.spark.sql.catalyst.InternalRow.empty)
      r.enableReturningBatches()
      FileStore.vectorReads.incrementAndGet()
      Some(new VectorizedColdScan(r, readStruct, required, filterFn, batchSize, limit,
        deleted = overlay.map(_._1).filterNot(_.isEmpty).orNull,
        delta = deltaProjected,
        mergeKey = if (mergeIdx == null) null else new KeyOrder.BatchKey(readStruct, mergeIdx),
        zBaseKey = zBase.orNull,
        zDelta = zDeltaSorted))
    } catch {
      // missing column (pre-ALTER file), schema drift, unsupported
      // predicate/physical-type pairing: the row path serves it with
      // the standing NULL-pad fetch — but never leak the half-open
      // reader's input stream
      case scala.util.control.NonFatal(_) =>
        if (r != null) {
          try r.close() catch { case scala.util.control.NonFatal(_) => () }
        }
        None
    }
  }

  /** Per-dimension Morton raw key from VECTOR values (round 18 — the
    * z-order sorted-merge's base side): must produce the SAME unsigned
    * 64-bit key as [[ZOrder.dimKey]] over the column's EXTERNAL value,
    * because the fold computes delta/base keys externally and the
    * merge compares across the two representations. NULL (handled by
    * the caller via isNullAt → 0L) is the curve origin, like
    * `dimKey(null)`. Timestamps key by epoch MILLIS (external
    * `Timestamp.getTime` / `Instant.toEpochMilli`) so the internal
    * micros floor-divide; dates key by EPOCH DAY — the stored int
    * verbatim, the unit `dimKey` uses for both `java.sql.Date` and
    * `LocalDate` externals (round 19); TIMESTAMP_NTZ keys by its
    * stored micros, matching `dimKey`'s `localDateTimeToMicros`.
    * None for a type outside the set — the fold path serves it.
    */
  private def zDimKey(t: org.apache.spark.sql.types.DataType, ci: Int, zKeyVersion: Int)
      : Option[(org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Long] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    t match {
      case LongType => Some((b, r) => b.column(ci).getLong(r) ^ Long.MinValue)
      case IntegerType => Some((b, r) => b.column(ci).getInt(r).toLong ^ Long.MinValue)
      case ShortType => Some((b, r) => b.column(ci).getShort(r).toLong ^ Long.MinValue)
      case ByteType => Some((b, r) => b.column(ci).getByte(r).toLong ^ Long.MinValue)
      case DoubleType => Some((b, r) =>
        ZOrder.floatingKey(java.lang.Double.doubleToLongBits(b.column(ci).getDouble(r))))
      case FloatType => Some((b, r) =>
        ZOrder.floatingKey(java.lang.Double.doubleToLongBits(b.column(ci).getFloat(r).toDouble)))
      case BooleanType => Some((b, r) =>
        (if (b.column(ci).getBoolean(r)) 1L else 0L) ^ Long.MinValue)
      case StringType => Some((b, r) => ZOrder.bytesKey(b.column(ci).getUTF8String(r).getBytes))
      case TimestampType => Some((b, r) =>
        Math.floorDiv(b.column(ci).getLong(r), 1000L) ^ Long.MinValue)
      // NTZ: the stored long IS localDateTimeToMicros' value — both
      // sides key by micros (a real Morton dimension since round 19)
      case TimestampNTZType => Some((b, r) => b.column(ci).getLong(r) ^ Long.MinValue)
      // the stored int IS the epoch day ZOrder.dimKey now keys both
      // date externals by — no timezone round-trip on the hot path
      case DateType => Some((b, r) => b.column(ci).getInt(r).toLong ^ Long.MinValue)
      // compact decimals under key version ≥ 2: the unscaled value at
      // the column scale, read straight off the vector's physical int
      // (p ≤ 9) or long storage — no per-row Decimal allocation,
      // mirroring VectorFilterEval.unscaledGetter — matching
      // [[ZOrder.decimalKey]] exactly (the external side floors to the
      // same scale). Legacy layouts (version < 2) keep the double key
      // their files were sorted with.
      case dt: DecimalType if zKeyVersion >= 2 && dt.precision <= 18 =>
        if (dt.precision <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS)
          Some((b, r) => b.column(ci).getInt(r).toLong ^ Long.MinValue)
        else
          Some((b, r) => b.column(ci).getLong(r) ^ Long.MinValue)
      case dt: DecimalType => Some((b, r) => ZOrder.floatingKey(java.lang.Double.doubleToLongBits(
        b.column(ci).getDecimal(r, dt.precision, dt.scale).toJavaBigDecimal.doubleValue)))
      case _ => None
    }
  }

  /** Whole-row rank-normalized Morton key over the batch at the
    * readStruct indices `idxs` — mirrors [[ZOrder.keyRanked]] /
    * [[ZOrder.key]] exactly (rank iff the frozen bounds cover every
    * dimension, like the store's zKey dispatch). None when any
    * dimension's type lacks a vector key.
    */
  private[bucketed] def zBatchKey(readStruct: StructType, idxs: Array[Int],
      bounds: Option[Array[Array[Long]]],
      zKeyVersion: Int = ZOrder.KEY_VERSION)
      : Option[(org.apache.spark.sql.vectorized.ColumnarBatch, Int) => Array[Long]] = {
    val dims = idxs.map(ci => zDimKey(readStruct(ci).dataType, ci, zKeyVersion))
    if (dims.exists(_.isEmpty)) return None
    val getters = dims.map(_.get)
    val ranked = bounds.filter(_.length == idxs.length)
    Some { (b, r) =>
      val ks = new Array[Long](getters.length)
      var d = 0
      while (d < getters.length) {
        val raw = if (b.column(idxs(d)).isNullAt(r)) 0L else getters(d)(b, r)
        ks(d) = ranked match {
          case Some(bs) => ZOrder.rankKey(bs(d), raw)
          case None => raw
        }
        d += 1
      }
      ZOrder.interleave(ks)
    }
  }

  /** Typed vector→vector value copy (null handled by the caller). */
  private[bucketed] def copier(t: org.apache.spark.sql.types.DataType)
      : (ColumnVector, Int, OnHeapColumnVector, Int) => Unit = {
    import org.apache.spark.sql.types._
    t match {
      case LongType | TimestampType | TimestampNTZType =>
        (s, sr, d, dr) => d.putLong(dr, s.getLong(sr))
      case IntegerType | DateType => (s, sr, d, dr) => d.putInt(dr, s.getInt(sr))
      case ShortType => (s, sr, d, dr) => d.putShort(dr, s.getShort(sr))
      case ByteType => (s, sr, d, dr) => d.putByte(dr, s.getByte(sr))
      case DoubleType => (s, sr, d, dr) => d.putDouble(dr, s.getDouble(sr))
      case FloatType => (s, sr, d, dr) => d.putFloat(dr, s.getFloat(sr))
      case BooleanType => (s, sr, d, dr) => d.putBoolean(dr, s.getBoolean(sr))
      case StringType => (s, sr, d, dr) => {
        val u = s.getUTF8String(sr)
        val bytes = u.getBytes
        d.putByteArray(dr, bytes, 0, bytes.length): Unit
      }
      case BinaryType => (s, sr, d, dr) => {
        val bytes = s.getBinary(sr)
        d.putByteArray(dr, bytes, 0, bytes.length): Unit
      }
      case dt: DecimalType =>
        (s, sr, d, dr) => d.putDecimal(dr, s.getDecimal(sr, dt.precision, dt.scale), dt.precision)
      case other => throw new IllegalStateException(s"no vector copier for $other")
    }
  }
}
