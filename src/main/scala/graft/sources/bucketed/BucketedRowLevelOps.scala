package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** COPY_ON_WRITE row-level operations (SQL UPDATE / MERGE INTO, and
  * the fallback path for DELETEs whose predicate the store does not
  * claim, [[VectorFilterEval.supports]]): the GROUP is the bucket.
  *
  * Spark's rewrite reads the affected rows through [[newScanBuilder]]
  * — static filter pushdown AND the runtime group-filter subquery
  * (the scan's [[BucketedScan.filterAttributes]] is the bucket key, so
  * matching keys prune to the owning buckets) — and writes the
  * surviving + updated rows back through [[newWriteBuilder]]. The scan
  * records exactly which buckets it planned; commit REPLACES those
  * groups and only APPENDS to the rest (an UPDATE that rewrites the
  * bucket key, or a MERGE insert, legally moves rows into buckets the
  * scan never read). At 100 TB an `UPDATE … WHERE key = k` therefore
  * rewrites one bucket, not the table — the same copy-on-write
  * group-replacement contract Iceberg/Delta implement with files as
  * the group.
  */
class BucketedRowLevelOperationBuilder(name: String, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = new BucketedRowLevelOperation(name, info.command())
}

class BucketedRowLevelOperation(name: String, cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** Buckets the rewrite's scan planned (post pruning) — set by the
    * scan's plan listener on the driver, read at commit.
    */
  @volatile private[bucketed] var scannedBuckets: Option[Set[Int]] = None

  /** Snapshot version the rewrite's scan pinned — the optimistic-
    * concurrency read version: commit validates that no interleaving
    * commit rewrote a replaced group since
    * ([[BucketStore.replaceGroups]]).
    */
  @volatile private[bucketed] var scannedVersion: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BucketedScanBuilder(name) {
      private var pruneFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

      /** GROUP semantics: the rewrite must read back EVERY row of each
        * bucket it touches (survivors are rewritten alongside matches),
        * so row filters are never claimed — they prune buckets only,
        * and Spark keeps the condition in its own plan (the CASE/
        * Filter of the rewritten query). Claiming them here silently
        * DELETED the non-matching rows of rewritten buckets.
        */
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pruneFilters = filters.filter(VectorFilterEval.supports(
          BucketStore.getWithRetry(name).schema, _))
        filters // ALL residual — Spark re-evaluates every one
      }

      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = Array.empty

      override protected def pruneOnlyFilters: Array[org.apache.spark.sql.sources.Filter] =
        pruneFilters

      override protected def planListener: Option[Array[Int] => Unit] =
        Some(bs => scannedBuckets = Some(bs.toSet))

      override protected def versionListener: Option[Long => Unit] =
        Some { v =>
          scannedVersion = Some(v)
          BucketStore.fireRowLevelScanPinned(name, v)
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val t = BucketStore.getWithRetry(name)
        val in = info.schema()
        require(in.length == t.schema.length &&
          in.fields.zip(t.schema.fields).forall { case (a, b) =>
            a.name == b.name && a.dataType == b.dataType },
          s"row-level write schema ${in.simpleString} does not match table '$name' " +
            s"schema ${t.schema.simpleString}")
        // layout captured at build, like the plain write path: the
        // epoch rides to commit so a rebucket/repartition_range landing
        // mid-rewrite fails loudly instead of mis-routing the rewrite
        new BucketedReplaceGroupsWrite(name, t.schema, t.keyCol, t.buckets.length,
          BucketedRowLevelOperation.this, t.rangeBounds, t.layoutEpoch,
          BucketStore.checkOf(name), t.hrw)
      }
    }

  override def description(): String = s"graft-buckets:$name $cmd (copy-on-write per bucket)"
}

/** The replacement write: the normal write path's routing (hash,
  * range or HRW), staged two-phase commit and task-side CHECK, but
  * commit swaps exactly the scanned groups. The bucket-clustered
  * distribution is a locality hint; the writer routes every row.
  */
class BucketedReplaceGroupsWrite(name: String, schema: StructType, keyCol: String,
    numBuckets: Int, op: BucketedRowLevelOperation,
    rangeBounds: Option[Array[Any]], layoutEpoch: Long, checkExpr: Option[String],
    hrw: Boolean)
  extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.bucket(numBuckets, keyCol)))
  override def requiredNumPartitions(): Int = numBuckets
  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new BucketedWriterFactory(schema, keyCol, numBuckets, rangeBounds, name, checkExpr, hrw)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // a rewrite whose scan never planned (pure-insert MERGE) read no
      // groups: replace nothing, append everything
      val groups = op.scannedBuckets.getOrElse(Set.empty)
      BucketStore.replaceGroups(name, BucketWriteCommit.merge(messages, numBuckets), groups,
        layoutEpoch, op.scannedVersion)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def description(): String =
    s"graft-buckets:$name replace-groups bucket($numBuckets, $keyCol)"
}
