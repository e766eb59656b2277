package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** DSv2 write path into the bucket store — the piece a user switching
  * from the reference needs to GET data into the cluster (the
  * reference writes through SnappyData's own ingest; Spark-side it was
  * read-only). Shape:
  *
  *   - [[BucketedWrite]] declares [[RequiresDistributionAndOrdering]]:
  *     clustered on the store's `bucket(n, key)` transform with
  *     exactly `n` partitions, resolved through [[BucketedCatalog]]'s
  *     FunctionCatalog — Spark plans the shuffle so EACH WRITE TASK
  *     HOLDS EXACTLY ONE BUCKET's rows (the layout a real cluster
  *     ingests host-locally; also what makes the written table
  *     immediately storage-partitioned-join-able, spec-asserted);
  *   - each [[BucketedDataWriter]] re-derives the bucket per row with
  *     the byte-identical hash ([[BucketFunction.bucketFor]]) — the
  *     requested distribution is an optimization, never trusted for
  *     correctness;
  *   - two-phase commit: tasks stage rows in their commit message,
  *     [[BucketedBatchWrite.commit]] publishes ALL buckets under ONE
  *     new store version ([[BucketStore.commitWrite]]) — a failed or
  *     speculative task publishes nothing, and concurrent readers see
  *     the old snapshot or the new one, never a torn write. (In this
  *     in-JVM stand-in the driver holds the staged rows; against a
  *     real cluster the message would carry per-bucket WAL locations
  *     and commit would flip the version pointer — the protocol is
  *     the part that transfers.)
  */
class BucketedWriteBuilder(name: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  protected def upsert: Boolean = false

  /** Idempotent-write options (the Delta txn contract): `txnappid` +
    * `txnversion` tag a BATCH write so a retry of an already-committed
    * batch is a no-op; `txnappid` alone tags a STREAMING write, whose
    * version is the epoch ([[BucketedStreamingWrite]]) — micro-batch
    * replay across a query restart then dedupes durably. Version −1 =
    * "epoch-versioned"; the batch path rejects it loudly.
    */
  protected def txn: Option[(String, Long)] = {
    val app = Option(info.options().get("txnappid")).filter(_.nonEmpty)
    val ver = Option(info.options().get("txnversion"))
    (app, ver) match {
      case (Some(a), Some(v)) =>
        val n = v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"graft-buckets: option 'txnversion' must be an integer, got '$v'"))
        Some((a, n))
      case (Some(a), None) => Some((a, -1L)) // streaming: epoch is the version
      case (None, Some(_)) => throw new IllegalArgumentException(
        "graft-buckets: option 'txnversion' requires 'txnappid'")
      case (None, None) => None
    }
  }

  override def build(): Write = {
    val t = BucketStore.getWithRetry(name)
    val in = info.schema()
    val want = t.schema
    require(in.length == want.length &&
      in.fields.zip(want.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType },
      s"write schema ${in.simpleString} does not match table '$name' schema ${want.simpleString}")
    require(!(doTruncate && upsert),
      s"write to '$name': truncate (complete mode) and upsert are mutually exclusive")
    // layout captured HERE, once: rangeBounds route the writers, the
    // epoch is presented at commit so a layout change between planning
    // and commit fails loudly instead of silently mis-routing rows
    // (same-count changes are invisible to the bucket-count check)
    new BucketedWrite(name, want, doTruncate, t.keyCol, t.buckets.length, upsert,
      t.rangeBounds, t.layoutEpoch, BucketStore.checkOf(name), t.hrw, txn)
  }
}

/** Keyed-upsert variant, selected by write option `upsert=true`. The
  * [[org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend]]
  * marker is what lets Spark accept `outputMode("update")` for this
  * sink: each epoch then delivers ONLY the groups that changed, as
  * appends, and commit replaces same-key rows in their owning buckets
  * ([[BucketStore.upsertRows]]). Deliberately NOT on the base builder —
  * update-mode rows into a plain append sink would silently duplicate
  * keys, so update mode without `upsert=true` stays a loud Spark error.
  */
class BucketedUpsertWriteBuilder(name: String, info: LogicalWriteInfo)
  extends BucketedWriteBuilder(name, info)
  with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  override protected def upsert: Boolean = true
}

class BucketedWrite(name: String, schema: StructType, truncate: Boolean,
    keyCol: String, numBuckets: Int, upsert: Boolean = false,
    rangeBounds: Option[Array[Any]] = None, layoutEpoch: Long = 0L,
    checkExpr: Option[String] = None, hrw: Boolean = false,
    txn: Option[(String, Long)] = None)
  extends Write with RequiresDistributionAndOrdering {

  /** Hash tables cluster on the bucket transform (each task writes
    * whole buckets). A RANGE table's data does not obey that function —
    * request an ORDERED distribution on the key instead: Spark range-
    * exchanges into contiguous key spans, which align with the boundary
    * buckets, so tasks still write few buckets each. The distribution
    * is a locality hint either way — routing correctness lives in
    * [[BucketStore.routeBucket]] at the writer, against the layout
    * CAPTURED at build (the commit's epoch guard makes stale capture
    * loud, never silent).
    */
  override def requiredDistribution(): Distribution =
    if (hrw)
      // an HRW layout satisfies neither Spark's bucket transform nor a
      // key ordering — ask for nothing rather than lie; routing
      // correctness lives in the writer either way
      Distributions.unspecified()
    else if (rangeBounds.isDefined)
      Distributions.ordered(Array(Expressions.sort(Expressions.column(keyCol),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST)))
    else
      Distributions.clustered(Array(Expressions.bucket(numBuckets, keyCol)))

  // Spark rejects a partition-count requirement alongside an
  // UNSPECIFIED distribution (the HRW case) — 0 = no requirement there
  override def requiredNumPartitions(): Int = if (hrw) 0 else numBuckets

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = {
    txn.foreach { case (a, v) => require(v >= 0,
      s"graft-buckets: a batch write with txnappid '$a' needs an explicit txnversion") }
    new BucketedBatchWrite(name, schema, truncate, keyCol, numBuckets, upsert,
      rangeBounds, layoutEpoch, checkExpr, hrw, txn)
  }

  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new BucketedStreamingWrite(name, schema, truncate, keyCol, numBuckets, upsert,
      rangeBounds, layoutEpoch, checkExpr, hrw, txn.map(_._1))

  override def description(): String =
    s"graft-buckets:$name write bucket($numBuckets, $keyCol)" +
      (if (truncate) " truncate" else if (upsert) " upsert" else "")
}

/** Streaming sink into the bucket store (the Spark-native analog of
  * the reference's producer sink, K4 — pointed at the store instead of
  * a broker): each micro-batch epoch two-phase-commits its rows under
  * ONE new store version — append mode appends, complete/truncate
  * replaces. An epoch re-delivered to THIS write instance (micro-batch
  * retry) is skipped, so a retried batch cannot double-append; with a
  * `txnappid` write option the (appId, epoch) mark rides the
  * manifests and replay across a query RESTART dedupes durably too
  * (q255's idempotent-write machinery).
  */
class BucketedStreamingWrite(name: String, schema: StructType, truncate: Boolean,
    keyCol: String, numBuckets: Int, upsert: Boolean = false,
    rangeBounds: Option[Array[Any]] = None, layoutEpoch: Long = 0L,
    checkExpr: Option[String] = None, hrw: Boolean = false,
    txnAppId: Option[String] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val committed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new BucketedStreamingWriterFactory(schema, keyCol, numBuckets, rangeBounds,
      name, checkExpr, hrw)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    if (committed.add(epochId)) {
      val byBucket = BucketWriteCommit.merge(messages, numBuckets)
      // with a txnappid the EPOCH is the txn version: replay across a
      // query RESTART dedupes durably (the manifest carries the mark),
      // not just within this write instance
      val t = txnAppId.map(_ -> epochId)
      if (upsert) BucketStore.upsertRows(name, byBucket, layoutEpoch, t)
      else BucketStore.commitWrite(name, byBucket, truncate, layoutEpoch, t)
    }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class BucketedBatchWrite(name: String, schema: StructType, truncate: Boolean,
    keyCol: String, numBuckets: Int, upsert: Boolean = false,
    rangeBounds: Option[Array[Any]] = None, layoutEpoch: Long = 0L,
    checkExpr: Option[String] = None, hrw: Boolean = false,
    txn: Option[(String, Long)] = None) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BucketedWriterFactory(schema, keyCol, numBuckets, rangeBounds, name, checkExpr, hrw)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val byBucket = BucketWriteCommit.merge(messages, numBuckets)
    if (upsert) BucketStore.upsertRows(name, byBucket, layoutEpoch, txn)
    else BucketStore.commitWrite(name, byBucket, truncate, layoutEpoch, txn)
  }

  /** Nothing staged outside the messages → abort publishes nothing. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class BucketedWriterFactory(schema: StructType, keyCol: String, numBuckets: Int,
    rangeBounds: Option[Array[Any]] = None,
    tableName: String = "", checkExpr: Option[String] = None, hrw: Boolean = false)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BucketedDataWriter(schema, keyCol, numBuckets, rangeBounds, tableName, checkExpr, hrw)
}

/** Standalone (serializable) streaming factory — must NOT capture the
  * StreamingWrite, which holds driver-only commit state.
  */
class BucketedStreamingWriterFactory(schema: StructType, keyCol: String, numBuckets: Int,
    rangeBounds: Option[Array[Any]] = None,
    tableName: String = "", checkExpr: Option[String] = None, hrw: Boolean = false)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new BucketedDataWriter(schema, keyCol, numBuckets, rangeBounds, tableName, checkExpr, hrw)
}

/** Commit message of one write task: one [[ColumnChunk]] per bucket,
  * built on the executor by the task's [[BucketStaging]]. It is plain
  * serializable data, so the session's serializer writes it on the
  * task-result hop: Kryo in every `GraftSession`, Java serialization
  * elsewhere. Both keep the values the executor shared as one instance
  * ([[ValueSharing]]) shared, since both track references. Java
  * serialization folds a NaN's payload bits to the canonical NaN; Kryo
  * keeps them.
  */
final class BucketWriteCommit(private[bucketed] val chunks: Array[ColumnChunk])
  extends WriterCommitMessage

object BucketWriteCommit {
  /** Merge the tasks' staged per-bucket rows — the one commit-side
    * merge shared by the batch, streaming, and replace-groups writes.
    * The rows are [[RowView]]s of the tasks' chunks.
    */
  def merge(messages: Array[WriterCommitMessage], numBuckets: Int): Array[Array[Row]] = {
    val merged = Array.fill(numBuckets)(Vector.newBuilder[Row])
    messages.foreach {
      case m: BucketWriteCommit =>
        var b = 0
        while (b < numBuckets) { merged(b) ++= m.chunks(b).rows; b += 1 }
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }
    merged.map(_.result().toArray)
  }
}

/** A write task's rows, staged per bucket: each record is routed by its
  * key cell alone ([[BucketStore.routeBucket]]) and kept as a copy
  * (Spark reuses the InternalRow buffer between calls). [[chunks]]
  * builds one [[ColumnChunk]] per bucket at commit, with one
  * [[ValueSharing]] for the whole task. `offset` = 1 marks a record
  * that carries one extra leading field before the table's columns.
  */
private[bucketed] final class BucketStaging(schema: StructType, keyCol: String,
    numBuckets: Int, rangeBounds: Option[Array[Any]], hrw: Boolean) {
  private val keyIdx = schema.fieldIndex(keyCol)
  private val keyType = schema(keyIdx).dataType
  private val keyToScala = CatalystTypeConverters.createToScalaConverter(keyType)
  private val staged = Array.fill(numBuckets)(new scala.collection.mutable.ArrayBuffer[InternalRow])

  def add(record: InternalRow, offset: Int): Unit = {
    val k = keyIdx + offset
    val key = if (record.isNullAt(k)) null else keyToScala(record.get(k, keyType))
    staged(BucketStore.routeBucket(rangeBounds, keyType, numBuckets, key, hrw)) += record.copy()
  }

  def chunks(): Array[ColumnChunk] = {
    val share = new ValueSharing(schema.length)
    staged.map { rows =>
      val out = new ColumnChunk.Builder(schema, rows.length, share)
      var i = 0
      while (i < rows.length) {
        out.fill(i, rows(i), rows(i).numFields - schema.length)
        i += 1
      }
      out.result()
    }
  }
}

class BucketedDataWriter(schema: StructType, keyCol: String, numBuckets: Int,
    rangeBounds: Option[Array[Any]] = None,
    tableName: String = "", checkExpr: Option[String] = None, hrw: Boolean = false)
  extends DataWriter[InternalRow] {

  private val staging = new BucketStaging(schema, keyCol, numBuckets, rangeBounds, hrw)
  // CHECK constraint, bound task-side from the string (expressions
  // never serialize; the parser and registry are executor-local), at
  // both field offsets a record can carry
  private val check: Array[Expression] = checkExpr.map { e =>
    val bound = CheckConstraint.bind(schema, e)
    Array(bound, bound.transform { case r: BoundReference => r.copy(ordinal = r.ordinal + 1) })
  }.orNull

  /** `offset` = 1 strips the `__row_operation` prefix group-based
    * row-level rewrites carry: Spark's plain writing task hands that
    * column through when the operation declares no metadata attributes
    * (the declared `LogicalWriteInfo.schema()` stays the table schema),
    * so the writer detects it structurally — exactly one extra leading
    * field.
    */
  override def write(record: InternalRow): Unit = {
    val offset =
      if (record.numFields == schema.length + 1) 1
      else if (record.numFields == schema.length) 0
      else throw new IllegalStateException(
        s"writer got ${record.numFields} fields for ${schema.length}-column schema")
    // task-side CHECK enforcement: the violating TASK fails before
    // anything stages, and two-phase commit guarantees the whole
    // violating batch publishes NOTHING. NULL passes, as in SQL.
    if (check != null && check(offset).eval(record) == false) {
      val row = Row.fromSeq(schema.fields.indices.map(i =>
        CatalystTypeConverters.convertToScala(
          record.get(i + offset, schema(i).dataType), schema(i).dataType)))
      throw new IllegalArgumentException(
        s"CHECK constraint violation on '$tableName': (${checkExpr.get}) is false for row " +
          row.toString.take(200))
    }
    staging.add(record, offset)
  }

  override def commit(): WriterCommitMessage = new BucketWriteCommit(staging.chunks())
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
