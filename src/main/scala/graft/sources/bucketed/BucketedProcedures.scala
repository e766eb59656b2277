package graft.sources.bucketed

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** SQL stored procedures for store maintenance (Spark 4 DSv2
  * `ProcedureCatalog`, the `CALL` statement Iceberg popularized):
  *
  *   - `CALL graft.history('t')` — the retained MVCC snapshots
  *     (version, row count, current flag): how a user discovers what
  *     `VERSION AS OF` / CDC windows are replayable;
  *   - `CALL graft.vacuum('t', keep_last)` — trim the table's history
  *     to the newest `keep_last` snapshots; returns (dropped,
  *     retained). Time-travel/CDC reads into the dropped range fail
  *     loudly afterwards ([[BucketStore.vacuum]]).
  *
  * Both are driver-side catalog operations returning a [[LocalScan]]
  * (metadata answers, no cluster job) — at 100 TB vacuum flips
  * version pointers; it never rewrites data.
  */
object BucketedProcedures {

  private def localScan(out: StructType, data: Array[InternalRow], desc: String): JIterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = data
      override def readSchema(): StructType = out
      override def description(): String = desc
    }
    java.util.List.of(scan).iterator()
  }

  object Vacuum extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "vacuum(table, keep_last, min_age_ms): trim MVCC history to the newest " +
        "keep_last snapshots, never dropping a snapshot (or deleting a file) " +
        "younger than min_age_ms — the cross-process retention floor protecting " +
        "stale foreign readers. Omitted min_age_ms uses the table's registered " +
        "floor (TBLPROPERTIES 'vacuum.min_age_ms'); an explicit 0 forces the " +
        "count-based trim."
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", IntegerType).build(),
      ProcedureParameter.in("min_age_ms", LongType)
        .defaultValue("CAST(NULL AS BIGINT)").build())
    override def isDeterministic: Boolean = false // mutates history

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "vacuum(table, keep_last, min_age_ms): table and keep_last must be non-null")
      val table = input.getUTF8String(0).toString
      val dropped =
        if (input.isNullAt(2)) BucketStore.vacuum(table, input.getInt(1))
        else BucketStore.vacuum(table, input.getInt(1), input.getLong(2))
      val retained = BucketStore.retained(table).length
      localScan(
        StructType(Seq(
          StructField("dropped", IntegerType, nullable = false),
          StructField("retained", IntegerType, nullable = false))),
        Array(InternalRow(dropped, retained)),
        s"graft vacuum($table)")
    }
  }

  /** `CALL graft.tag('t', 'name')` — name the CURRENT retained
    * snapshot so time travel can address it symbolically
    * (`SELECT … FROM graft.t VERSION AS OF 'name'`). Metadata-only:
    * a pointer into the MVCC history, no pin (vacuum still governs
    * retention) and no data movement.
    */
  object Tag extends UnboundProcedure with BoundProcedure {
    override def name(): String = "tag"
    override def description(): String =
      "tag(table, tag): name the current snapshot for symbolic VERSION AS OF"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("tag", StringType).build())
    override def isDeterministic: Boolean = false // reads the live version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "tag(table, tag): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val tag = input.getUTF8String(1).toString
      val v = BucketStore.setTag(table, tag)
      localScan(
        StructType(Seq(
          StructField("tag", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(tag), v)),
        s"graft tag($table, $tag)")
    }
  }

  /** `CALL graft.branch('t', 'staging')` — fork the current head as a
    * WAP branch: a zero-copy manifest write; reads and every DML
    * statement then address the branch as `graft.`t#staging`` while
    * main serves untouched ([[BucketStore.createBranch]]).
    */
  object Branch extends UnboundProcedure with BoundProcedure {
    override def name(): String = "branch"
    override def description(): String =
      "branch(table, branch): fork the current head as a write-audit-publish branch"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "branch(table, branch): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val branch = input.getUTF8String(1).toString
      val v = BucketStore.createBranch(table, branch)
      localScan(
        StructType(Seq(
          StructField("branch", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            BucketStore.branchName(table, branch)), v)),
        s"graft branch($table, $branch)")
    }
  }

  /** `CALL graft.publish_branch('t', 'staging')` — atomically
    * fast-forward main to the audited branch head and drop the branch
    * (the PUBLISH of write-audit-publish). Loud
    * ConcurrentWriteException if main moved since the fork.
    */
  object PublishBranch extends UnboundProcedure with BoundProcedure {
    override def name(): String = "publish_branch"
    override def description(): String =
      "publish_branch(table, branch): fast-forward main to the branch head and drop the branch"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "publish_branch(table, branch): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val branch = input.getUTF8String(1).toString
      val v = BucketStore.publishBranch(table, branch)
      localScan(
        StructType(Seq(StructField("version", LongType, nullable = false))),
        Array(InternalRow(v)),
        s"graft publish_branch($table, $branch)")
    }
  }

  /** `CALL graft.rebase_branch('t', 'staging')` — replay-free rebase
    * onto main's current head when the interleaved commits touched
    * disjoint buckets; loud conflict otherwise
    * ([[BucketStore.rebaseBranch]]).
    */
  object RebaseBranch extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rebase_branch"
    override def description(): String =
      "rebase_branch(table, branch): rebase the branch onto main's current head " +
        "(disjoint buckets only)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "rebase_branch(table, branch): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val branch = input.getUTF8String(1).toString
      val v = BucketStore.rebaseBranch(table, branch)
      localScan(
        StructType(Seq(StructField("version", LongType, nullable = false))),
        Array(InternalRow(v)),
        s"graft rebase_branch($table, $branch)")
    }
  }

  /** `CALL graft.drop_branch('t', 'staging')` — abandon the branch
    * (the audit-failed exit); main never saw the batch, branch-only
    * files are GC'd.
    */
  object DropBranch extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_branch"
    override def description(): String =
      "drop_branch(table, branch): abandon a write-audit-publish branch"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("branch", StringType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "drop_branch(table, branch): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val branch = input.getUTF8String(1).toString
      val dropped = BucketStore.dropBranch(table, branch)
      localScan(
        StructType(Seq(StructField("dropped", BooleanType, nullable = false))),
        Array(InternalRow(dropped)),
        s"graft drop_branch($table, $branch)")
    }
  }

  /** `CALL graft.rollback('t', v)` — reinstate retained snapshot `v`
    * as the new head (zero-copy; the bad versions stay retained as the
    * audit trail). The no-branch recovery move; see
    * [[BucketStore.rollback]].
    */
  object Rollback extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rollback"
    override def description(): String =
      "rollback(table, version): reinstate a retained snapshot as the new head"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build())
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "rollback(table, version): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val to = input.getLong(1)
      val v = BucketStore.rollback(table, to)
      localScan(
        StructType(Seq(
          StructField("restored_version", LongType, nullable = false),
          StructField("new_version", LongType, nullable = false))),
        Array(InternalRow(to, v)),
        s"graft rollback($table, $to)")
    }
  }

  /** `CALL graft.rebucket('t', n)` — re-hash every current row into a
    * new n-bucket layout under one MVCC version ([[BucketStore
    * .rebucket]]). Unlike vacuum/history this one IS a data rewrite —
    * the one-off full-table shuffle that fixes an outgrown layout; CDC
    * windows spanning the boundary stay loudly non-diffable.
    */
  object Rebucket extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rebucket"
    override def description(): String =
      "rebucket(table, num_buckets): re-hash the table into a new bucket layout " +
        "under one new MVCC version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("num_buckets", IntegerType).build())
    override def isDeterministic: Boolean = false // publishes a version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "rebucket(table, num_buckets): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val oldBuckets = BucketStore.get(table).buckets.length
      val version = BucketStore.rebucket(table, input.getInt(1))
      localScan(
        StructType(Seq(
          StructField("old_buckets", IntegerType, nullable = false),
          StructField("new_buckets", IntegerType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(oldBuckets, input.getInt(1), version)),
        s"graft rebucket($table)")
    }
  }

  /** `CALL graft.rebucket_hrw('t', n)` — switch the table to (or
    * resize it under) RENDEZVOUS bucket assignment
    * ([[BucketStore.rebucket]] with `hrw = true`). From a mod/range
    * layout this is a one-off full shuffle like plain rebucket; from
    * an existing HRW layout a resize rewrites ONLY the buckets whose
    * membership changed — on grow, ~(1 − n/m) of rows move, all into
    * the new buckets, and untouched buckets republish by identity
    * (the q229 stability analysis as store behavior, spec-pinned by
    * RebucketHrwSpec). The reported `moved_buckets` is how many of
    * the new layout's buckets were materialized by this call.
    */
  object RebucketHrw extends UnboundProcedure with BoundProcedure {
    override def name(): String = "rebucket_hrw"
    override def description(): String =
      "rebucket_hrw(table, num_buckets): rendezvous (HRW) bucket layout — minimal-" +
        "movement resizes from an existing HRW layout, one-off shuffle otherwise"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("num_buckets", IntegerType).build())
    override def isDeterministic: Boolean = false // publishes a version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "rebucket_hrw(table, num_buckets): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val before = BucketStore.get(table)
      val version = BucketStore.rebucket(table, input.getInt(1), hrw = true)
      val after = BucketStore.get(table)
      // identity survey: buckets whose array the resize did NOT
      // materialize are the untouched set the minimal-movement path
      // guarantees
      val untouched = after.buckets.indices.count(b =>
        after.buckets.sharesWith(before.buckets, b)) // storage identity, no loads
      localScan(
        StructType(Seq(
          StructField("old_buckets", IntegerType, nullable = false),
          StructField("new_buckets", IntegerType, nullable = false),
          StructField("untouched_buckets", IntegerType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(before.buckets.length, input.getInt(1), untouched, version)),
        s"graft rebucket_hrw($table)")
    }
  }

  /** `CALL graft.recluster('t', 'col')` — re-sort every bucket on a
    * new cluster column under one version ([[BucketStore.recluster]]);
    * future publishes maintain the order and range predicates on the
    * column fetch binary-searched slices. The ORDER twin of rebucket:
    * an in-bucket sort, no shuffle.
    */
  object Recluster extends UnboundProcedure with BoundProcedure {
    override def name(): String = "recluster"
    override def description(): String =
      "recluster(table, cluster_by): re-sort every bucket on a new cluster column " +
        "under one new MVCC version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("cluster_by", StringType).build())
    override def isDeterministic: Boolean = false // publishes a version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "recluster(table, cluster_by): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val col = input.getUTF8String(1).toString
      val version = BucketStore.recluster(table, col)
      localScan(
        StructType(Seq(
          StructField("cluster_by", StringType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(col), version)),
        s"graft recluster($table)")
    }
  }

  /** `CALL graft.reorder('t')` — re-freeze a z-ordered table's rank
    * boundaries from the current data and re-sort every bucket under
    * them ([[BucketStore.reorder]]): the drift-refresh for a layout
    * whose equi-depth slabs were frozen at first commit and have
    * skewed under appends from a different distribution. Correctness
    * never moves (zone maps come from actual rows); pruning tightness
    * does. In-bucket rewrite, no shuffle, layout epoch unchanged.
    */
  object Reorder extends UnboundProcedure with BoundProcedure {
    override def name(): String = "reorder"
    override def description(): String =
      "reorder(table): re-freeze a z-ordered table's rank boundaries from current data " +
        "and re-sort its buckets under one new MVCC version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false // publishes a version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0), "reorder(table): table must be non-null")
      val table = input.getUTF8String(0).toString
      val version = BucketStore.reorder(table)
      localScan(
        StructType(Seq(StructField("version", LongType, nullable = false))),
        Array(InternalRow(version)),
        s"graft reorder($table)")
    }
  }

  /** `CALL graft.repartition_range('t', n)` — switch the table to a
    * RANGE layout on its bucket key ([[BucketStore.repartitionRange]]):
    * equal-frequency boundaries from the current key distribution, one
    * MVCC version, buckets re-sorted on the key. Range predicates then
    * prune to the owning buckets (disjoint per-bucket min/max) AND
    * binary-search inside them. Co-partitioned join reporting stops
    * (the data no longer obeys the hash transform) — `rebucket` is the
    * way back.
    */
  object RepartitionRange extends UnboundProcedure with BoundProcedure {
    override def name(): String = "repartition_range"
    override def description(): String =
      "repartition_range(table, num_buckets): switch the table to a range layout on its " +
        "bucket key under one new MVCC version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("num_buckets", IntegerType).build())
    override def isDeterministic: Boolean = false // publishes a version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "repartition_range(table, num_buckets): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val n = input.getInt(1)
      val version = BucketStore.repartitionRange(table, n)
      localScan(
        StructType(Seq(
          StructField("num_buckets", IntegerType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(n, version)),
        s"graft repartition_range($table)")
    }
  }

  /** `CALL graft.stats('t')` — per-bucket layout observability: row
    * count, key min/max, and the layout kind. How an operator SEES the
    * skew, range disjointness, or hash spread the pruning machinery
    * ([[BucketSkip]], range layouts) exploits — before and after a
    * rebucket/repartition_range/recluster. Min/max come from
    * [[BucketSkip]]'s identity-cached statistics — the SAME pass the
    * pruning machinery uses, computed once per bucket array and shared
    * across versions by COW; at 100 TB both read the stats the
    * producer wrote into table metadata at commit.
    */
  object Stats extends UnboundProcedure with BoundProcedure {
    override def name(): String = "stats"
    override def description(): String =
      "stats(table): per-bucket row counts, key min/max, and layout kind"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false // reflects the live snapshot

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0), "stats(table): argument must be non-null")
      val table = input.getUTF8String(0).toString
      val t = BucketStore.get(table)
      val layout = org.apache.spark.unsafe.types.UTF8String.fromString(
        if (t.rangeBounds.isDefined) "range" else "hash")
      val data = t.buckets.indices.toArray.map { b =>
        // COLD-AWARE observability (round 17): row counts come from
        // block/MoR metadata and key min/max from the SAME skip
        // statistics pruning consults ([[BucketStore.skipStatParts]]:
        // manifest-seeded; a cold block streams just the key column) —
        // `CALL graft.stats` on a cold 100 TB table faults nothing.
        // On a clean bucket these are the exact live bounds; a bucket
        // with pending MoR deletes reports the pruning bounds (base
        // file ∪ delta — conservative, exactly what scans skip by).
        val live = BucketStore.liveCount(t, b).toLong
        val parts = BucketStore.skipStatParts(t, b, t.keyCol).getOrElse(Seq.empty)
        val mins = parts.map(_.min).filter(_ != null)
        val maxs = parts.map(_.max).filter(_ != null)
        val ord = KeyOrder.of(t.schema(t.keyCol).dataType)
        val mn = mins.reduceOption((a, x) => if (ord.compare(x, a) < 0) x else a).orNull
        val mx = maxs.reduceOption((a, x) => if (ord.compare(x, a) > 0) x else a).orNull
        def str(v: Any) =
          if (v == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
        InternalRow(b, live, str(mn), str(mx), layout)
      }
      localScan(
        StructType(Seq(
          StructField("bucket", IntegerType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("key_min", StringType, nullable = true),
          StructField("key_max", StringType, nullable = true),
          StructField("layout", StringType, nullable = false))),
        data,
        s"graft stats($table)")
    }
  }

  /** `CALL graft.compact('t')` — fold every pending merge-on-read
    * deletion vector / delta back into clean bucket arrays under one
    * MVCC version ([[BucketStore.compact]]): read amplification back
    * to zero, positions re-materialized. A no-op (nothing published)
    * when the table has no pending state. The maintenance twin of
    * vacuum: vacuum trims HISTORY, compact trims DML DEBT.
    */
  object Compact extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "compact(table): fold pending merge-on-read deletion vectors and delta rows back " +
        "into clean bucket arrays under one new MVCC version"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false // may publish a version

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0), "compact(table): argument must be non-null")
      val table = input.getUTF8String(0).toString
      val folded = BucketStore.compact(table)
      localScan(
        StructType(Seq(
          StructField("buckets_compacted", IntegerType, nullable = false),
          StructField("version", LongType, nullable = false))),
        Array(InternalRow(folded, BucketStore.currentVersion(table))),
        s"graft compact($table)")
    }
  }

  /** `CALL graft.analyze('t', 'c1,c2')` — register data-skipping stat
    * columns and build their zone maps/sketches for the CURRENT
    * snapshot now. From this commit on, every publish keeps the
    * changed buckets' stats warm ([[BucketStore.publish]]), so a
    * pushed filter on these columns prunes with zero plan-time stat
    * passes — the explicit pre-warm for tables whose filter columns
    * are known before the first query (the lazy first-touch build
    * remains as the fallback for everything else).
    */
  object Analyze extends UnboundProcedure with BoundProcedure {
    override def name(): String = "analyze"
    override def description(): String =
      "analyze(table, columns): register comma-separated stat columns and build their " +
        "data-skipping statistics; later commits keep changed buckets warm"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("columns", StringType).build())
    override def isDeterministic: Boolean = false // registers + builds cache state

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "analyze(table, columns): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val cols = input.getUTF8String(1).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, "analyze(table, columns): no columns given")
      val t = BucketStore.get(table)
      cols.foreach(c => require(t.schema.fieldNames.contains(c),
        s"analyze('$table'): column '$c' not in schema [${t.schema.fieldNames.mkString(", ")}]"))
      BucketStore.registerStatColumns(table, cols)
      val data = cols.map { c =>
        var skippable = 0
        // COLD-AWARE: [[BucketStore.skipStatParts]] streams exactly the
        // stat column from an evicted block's file (and caches by file
        // path, so the manifest fold below reuses the same pass) — an
        // analyze over a reopened 100 TB table decodes one column per
        // block and never faults the table into the heap cache
        t.buckets.indices.foreach { b =>
          if (BucketStore.skipStatParts(t, b, c).isDefined) skippable += 1
        }
        InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(c),
          t.buckets.length, skippable)
      }.toArray
      // durability: fold the freshly built statistics into the CURRENT
      // version's manifest (same snapshot, richer commit metadata) so
      // a restarted JVM prunes and stats-serves without block reads —
      // otherwise only the NEXT publish would carry them
      BucketStore.refreshManifestStats(table)
      localScan(
        StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("buckets", IntegerType, nullable = false),
          StructField("skippable", IntegerType, nullable = false))),
        data,
        s"graft analyze($table)")
    }
  }

  /** `CALL graft.refresh('t')` — absorb commits another PROCESS landed
    * in the table's directory ([[BucketStore.refreshFromDisk]]): the
    * explicit reader-side half of the cross-process protocol. The
    * automatic half fires only on a lost commit, so a process that
    * only READS never refreshes on its own; this call (or the opt-in
    * staleness policy, [[RefreshPolicy]]) is how N reader jobs follow
    * one foreign writer. Returns (absorbed, current_version).
    * Metadata-only: one directory listing + manifest parses for the
    * new versions; blocks stay lazy.
    */
  object Refresh extends UnboundProcedure with BoundProcedure {
    override def name(): String = "refresh"
    override def description(): String =
      "refresh(table): absorb foreign commits from the table's directory into this " +
        "process's retained history; returns commits absorbed and the new head"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false // absorbs live external state

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0), "refresh(table): table must be non-null")
      val table = input.getUTF8String(0).toString
      val absorbed = BucketStore.refreshFromDisk(table)
      localScan(
        StructType(Seq(
          StructField("absorbed", IntegerType, nullable = false),
          StructField("current_version", LongType, nullable = false))),
        Array(InternalRow(absorbed, BucketStore.currentVersion(table))),
        s"graft refresh($table)")
    }
  }

  /** `CALL graft.refresh_policy('t', max_staleness_ms)` — opt the
    * table into staleness-triggered refresh: scan planning and
    * streaming offset discovery re-list the directory once per window
    * (0 = every scan) and absorb foreign commits automatically, so a
    * read-only process and a changefeed consumer FOLLOW a foreign
    * writer with no explicit calls. A negative value clears the
    * policy (back to snapshot-isolated-until-asked).
    */
  object RefreshPolicy extends UnboundProcedure with BoundProcedure {
    override def name(): String = "refresh_policy"
    override def description(): String =
      "refresh_policy(table, max_staleness_ms): auto-absorb foreign commits at scan/offset " +
        "time when older than the window (0 = every scan; negative clears)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_staleness_ms", LongType).build())
    override def isDeterministic: Boolean = false // mutates policy state

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "refresh_policy(table, max_staleness_ms): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      val ms = input.getLong(1)
      val active = if (ms < 0) { BucketStore.clearRefreshPolicy(table); false }
      else { BucketStore.setRefreshPolicy(table, ms); true }
      localScan(
        StructType(Seq(StructField("active", BooleanType, nullable = false))),
        Array(InternalRow(active)),
        s"graft refresh_policy($table)")
    }
  }

  /** `CALL graft.retention('t', min_age_ms)` — register (or clear,
    * with a negative value) the table's vacuum retention floor after
    * creation; the runtime twin of
    * TBLPROPERTIES('vacuum.min_age_ms') for tables that predate the
    * property or whose operators tune retention live. Returns the
    * now-effective floor.
    */
  object Retention extends UnboundProcedure with BoundProcedure {
    override def name(): String = "retention"
    override def description(): String =
      "retention(table, min_age_ms): set the vacuum retention floor — automatic GC " +
        "and floor-less vacuums never collect snapshots/files younger than it " +
        "(negative clears)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("min_age_ms", LongType).build())
    override def isDeterministic: Boolean = false // mutates policy state

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0) && !input.isNullAt(1),
        "retention(table, min_age_ms): arguments must be non-null")
      val table = input.getUTF8String(0).toString
      BucketStore.get(table): Unit // loud on unknown table
      val ms = input.getLong(1)
      if (ms < 0) BucketStore.clearVacuumFloor(table)
      else BucketStore.setVacuumFloor(table, ms)
      localScan(
        StructType(Seq(StructField("min_age_ms", LongType, nullable = false))),
        Array(InternalRow(BucketStore.vacuumFloorOf(table))),
        s"graft retention($table)")
    }
  }

  object History extends UnboundProcedure with BoundProcedure {
    override def name(): String = "history"
    override def description(): String =
      "history(table): retained MVCC snapshots (version, row_count, is_current, " +
        "commit_ts — the stamp the vacuum retention floor compares against)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false // reflects live history

    override def call(input: InternalRow): JIterator[Scan] = {
      require(!input.isNullAt(0), "history(table): argument must be non-null")
      val table = input.getUTF8String(0).toString
      val versions = BucketStore.retained(table)
      val current = versions.last
      val data = versions.map { v =>
        val snap = BucketStore.snapshot(table, v)
        // commitTs is epoch micros — exactly TimestampType's internal
        // representation, so operators can size a retention floor
        // (`now() - commit_ts`) straight off this output
        InternalRow(v, BucketStore.liveRowCount(snap), v == current, snap.commitTs)
      }.toArray
      localScan(
        StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("is_current", BooleanType, nullable = false),
          StructField("commit_ts", TimestampType, nullable = false))),
        data,
        s"graft history($table)")
    }
  }
}
