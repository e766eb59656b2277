package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ row-level operations (SQL UPDATE / DELETE / MERGE on
  * a table with `write.dml.mode = merge-on-read`), via Spark's DELTA
  * protocol ([[SupportsDelta]]) — the Iceberg position-delete pattern
  * re-expressed for the bucket store:
  *
  *   - the rewrite's scan is the ORDINARY pushed-filter scan plus the
  *     `(_bucket, _pos)` row-id metadata columns the reader
  *     synthesizes — it reads MATCHING rows only (no group
  *     semantics), so a 1-row UPDATE touches ~1 row, not a bucket;
  *   - the writer receives typed deltas: `delete(id)` records a
  *     position, `update(id, row)` a position + replacement image,
  *     `insert(row)` routes the new image by bucket key;
  *   - commit applies them in one MVCC version
  *     ([[BucketStore.applyDelta]]): deletion-vector bits + delta rows
  *     per touched bucket, base arrays SHARED by identity — the
  *     publish is O(changed rows) where copy-on-write is O(bucket).
  *     Positions are snapshot-relative, so the commit pins the scanned
  *     version (optimistic concurrency, loud on interleaving commits).
  *
  * Reads, CDC, and time travel keep working untouched because the
  * fetch path folds pending state at its single choke point
  * ([[BucketStore.folded]]); `CALL graft.compact` folds it back into
  * clean arrays. The reference has no row-level DML at all (read-only
  * connector, SnappyDataInputFormat.java:88) — both DML strategies are
  * engine components the rebuild adds.
  */
class BucketedDeltaOperationBuilder(name: String, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = new BucketedDeltaOperation(name, info.command())
}

class BucketedDeltaOperation(name: String, cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  /** Snapshot version the rewrite's scan pinned — positions address
    * THIS snapshot's physical layout; commit re-checks it.
    */
  @volatile private[bucketed] var scannedVersion: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(BucketedTable.MetaBucket),
    Expressions.column(BucketedTable.MetaPos))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BucketedScanBuilder(name) {
      override protected def versionListener: Option[Long => Unit] =
        Some { v =>
          scannedVersion = Some(v)
          BucketStore.fireRowLevelScanPinned(name, v)
        }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val t = BucketStore.getWithRetry(name)
        new BucketedDeltaWrite(name, t.schema, t.keyCol, t.buckets.length,
          t.rangeBounds, t.layoutEpoch, BucketedDeltaOperation.this, t.hrw)
      }
    }

  override def description(): String = s"graft-buckets:$name $cmd (merge-on-read delta)"
}

class BucketedDeltaWrite(name: String, schema: StructType, keyCol: String, numBuckets: Int,
    rangeBounds: Option[Array[Any]], layoutEpoch: Long, op: BucketedDeltaOperation,
    hrw: Boolean = false)
  extends DeltaWrite {

  /** No required distribution: a delta is small by definition (the
    * point of merge-on-read) — shuffling it into bucket-aligned tasks
    * would cost more than the commit-side merge of a few positions.
    */
  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      new BucketedDeltaWriterFactory(schema, keyCol, numBuckets, rangeBounds, hrw)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val dels = Array.fill(numBuckets)(Vector.newBuilder[Int])
      val ins = Array.fill(numBuckets)(Vector.newBuilder[Row])
      messages.foreach {
        case m: BucketDeltaCommit =>
          var b = 0
          while (b < numBuckets) {
            dels(b) ++= m.deletes(b)
            ins(b) ++= m.inserts(b).rows
            b += 1
          }
        case other => throw new IllegalStateException(s"unexpected commit message $other")
      }
      val readVersion = op.scannedVersion.getOrElse(
        // a pure-insert MERGE plans no row-level scan: positions are
        // absent, so pin the version at commit (inserts carry none)
        BucketStore.currentVersion(name))
      BucketStore.applyDelta(name,
        dels.map(_.result().toArray), ins.map(_.result().toArray),
        layoutEpoch, readVersion)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def description(): String = s"graft-buckets:$name delta-write"
}

class BucketedDeltaWriterFactory(schema: StructType, keyCol: String, numBuckets: Int,
    rangeBounds: Option[Array[Any]], hrw: Boolean = false) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new BucketedDeltaWriter(schema, keyCol, numBuckets, rangeBounds, hrw)
}

/** Commit message of one delta task: the deleted positions and one
  * [[ColumnChunk]] of new images per bucket, plain serializable data
  * like [[BucketWriteCommit]].
  */
final class BucketDeltaCommit(private[bucketed] val deletes: Array[Array[Int]],
    private[bucketed] val inserts: Array[ColumnChunk]) extends WriterCommitMessage

/** Stages typed deltas per bucket. Row ids arrive as the projection of
  * the [[BucketedDeltaOperation.rowId]] attributes IN DECLARED ORDER:
  * field 0 = `_bucket`, field 1 = `_pos` (spec-pinned). New images
  * (update/insert) route by bucket key exactly like the plain write
  * path — an UPDATE that rewrites the key legally moves the row.
  */
class BucketedDeltaWriter(schema: StructType, keyCol: String, numBuckets: Int,
    rangeBounds: Option[Array[Any]], hrw: Boolean = false) extends DeltaWriter[InternalRow] {

  private val dels = Array.fill(numBuckets)(Vector.newBuilder[Int])
  private val ins = new BucketStaging(schema, keyCol, numBuckets, rangeBounds, hrw)

  private def recordDelete(id: InternalRow): Unit = {
    val b = id.getInt(0)
    require(b >= 0 && b < numBuckets, s"row id names bucket $b of $numBuckets")
    dels(b) += id.getInt(1)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = recordDelete(id)

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    recordDelete(id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    require(row.numFields == schema.length,
      s"delta writer got ${row.numFields} fields for ${schema.length}-column schema")
    ins.add(row, 0)
  }

  override def commit(): WriterCommitMessage =
    new BucketDeltaCommit(dels.map(_.result().toArray), ins.chunks())

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
