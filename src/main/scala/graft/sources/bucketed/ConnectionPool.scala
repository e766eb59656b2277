package graft.sources.bucketed

import java.io.IOException
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.Row

/** Pooled, host-affine connections to the (simulated) bucket-store
  * cluster — the operational layer of the connector rebuild
  * (SURVEY §2.9 C6/C7/C9; reference: pool-per-URL with borrow/return
  * `ConnectionPool.scala:12-76`, server-affine connection selection
  * `SnappyDataConnectorHelper.scala:44-91`, bounded retry
  * `SnappydataJdbcUtil.scala:61-78`).
  *
  * A [[BucketedPartitionReader]] borrows one connection to the bucket's
  * owning host at open (falling over to the replica list — see the
  * reader), holds it for the scan's lifetime, and returns it to the
  * pool in `close()` — the JDBC reader lifecycle. Failure AFTER open
  * (host dies mid-stream) is deliberately NOT retried here: the page
  * fetch throws, the Spark task fails, and Spark's own task retry
  * re-plans the split — replacing the reference's hand-rolled
  * mid-stream retry with the engine's native mechanism.
  */
object ConnectionPool {

  private val idle = new ConcurrentHashMap[String, ConcurrentLinkedQueue[HostConnection]]()
  private val createdCount = new AtomicLong()
  private val reusedCount = new AtomicLong()

  /** Borrow a connection to `host`: reuse an idle pooled one if
    * available, else dial a new one. Dialing checks liveness — a dead
    * host fails HERE (connect time), which is what lets the reader
    * fail over to a replica before any rows flow.
    */
  def borrow(host: String): HostConnection = {
    if (!BucketServers.isUp(host))
      throw new IOException(s"connection refused: $host is down")
    val q = idle.computeIfAbsent(host, _ => new ConcurrentLinkedQueue[HostConnection]())
    val pooled = q.poll()
    if (pooled != null) { reusedCount.incrementAndGet(); pooled }
    else { createdCount.incrementAndGet(); new HostConnection(host) }
  }

  /** Return a connection for reuse. A connection whose host has died
    * is discarded, not pooled (the next borrower would just fail).
    */
  def release(conn: HostConnection): Unit =
    if (BucketServers.isUp(conn.host))
      idle.computeIfAbsent(conn.host, _ => new ConcurrentLinkedQueue[HostConnection]()).add(conn)

  /** (connections dialed, borrows served from the pool) — spec hooks. */
  def stats: (Long, Long) = (createdCount.get(), reusedCount.get())

  def reset(): Unit = { idle.clear(); createdCount.set(0); reusedCount.set(0) }
}

/** Liveness registry for the simulated cluster: specs `kill` a host to
  * drive the failover path, `revive` it after.
  */
object BucketServers {
  private val down = ConcurrentHashMap.newKeySet[String]()
  def kill(host: String): Unit = { down.add(host); () }
  def revive(host: String): Unit = { down.remove(host); () }
  def isUp(host: String): Boolean = !down.contains(host)
}

/** One dialed connection. `fetchBucket` streams a bucket's rows in
  * pages of `fetchSize` (the C8 `fetchsize` option — the analog of the
  * reference's JDBC fetch size, JDBCOptions.java:15-32): each page is
  * one simulated server round trip, checked against host liveness at
  * the page's first row. The cursor holds an index into the bucket,
  * never a copy of a page.
  * The fetch names the snapshot `version` it reads — the server side
  * of MVCC: a scan that pinned v at planning reads v even if the
  * table republished mid-scan (loud failure if v left the retention
  * window, [[BucketStore.snapshot]]).
  */
final class HostConnection private[bucketed] (val host: String) {

  /** `slice`: when the table is clustered and the scan proved bounds
    * on the cluster key (for a compound key: the equality prefix plus
    * at most one range, [[ClusterRange.compoundFrom]]), the server
    * binary-searches the lexicographically sorted bucket and streams
    * ONLY the qualifying slice — pages moved are proportional to the
    * answer, not the bucket (clustered-index scan; ignored for
    * unclustered tables). `reverse` streams the slice back-to-front
    * (the descending index scan: reversed storage order IS
    * desc/nulls-last).
    *
    * The fetch serves the bucket's FOLDED view ([[BucketStore.folded]]
    * — merge-on-read deletion vectors applied, delta rows merged in
    * cluster order) and names every row's PHYSICAL position
    * ([[RowCursor.pos]]), the row id the delta DML path addresses
    * deletes/updates by. Clean buckets pay nothing for either (identity
    * fold, position = index).
    */
  def fetchBucket(table: String, bucket: Int, version: Long, fetchSize: Int,
      slice: Option[ClusterSlice] = None, reverse: Boolean = false,
      blockFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty): RowCursor = {
    require(fetchSize > 0, s"fetchSize must be positive, got $fetchSize")
    val t = BucketStore.snapshot(table, version)
    val f = BucketStore.folded(t, bucket)
    val rows = f.rows
    val width = t.schema.length
    val clusterCols = BucketStore.lexClusterColsOf(t.clusterCol)
    val (start, end) = slice match {
      // honor only a slice matching this table's layout PREFIX — a
      // stale caller claim must degrade to a full stream, never
      // mis-slice (z-order layouts have no lexicographic prefix, so
      // they never slice)
      case Some(s) if s.cols.nonEmpty && clusterCols.startsWith(s.cols) =>
        ClusterRange.sliceSortedCompound(rows,
          s.cols.map(t.schema.fieldIndex).toArray, s.ranges)
      case _ => (0, rows.length)
    }
    // block-level zone maps: within the slice, serve only the blocks
    // whose per-block statistics admit the scan's pushed conjuncts
    // ([[BucketSkip.mayMatchBlock]] — strictly conservative; every
    // served row is still filter-checked reader-side). The row-group
    // skip of a real format, at the store's own block grid: pages
    // moved ∝ matching blocks. Buckets at or below one block gain
    // nothing over the plan-time bucket-level skip and skip the probe.
    val spans: IndexedSeq[(Int, Int)] =
      if (blockFilters.isEmpty || rows.length <= BucketSkip.BlockRows || start >= end)
        IndexedSeq((start, end))
      else {
        val B = BucketSkip.BlockRows
        (start / B to (end - 1) / B).flatMap { k =>
          if (blockFilters.forall(BucketSkip.mayMatchBlock(t.schema, rows, k, _)))
            Some((math.max(start, k * B), math.min(end, (k + 1) * B)))
          else { HostConnection.blocksSkippedCount.incrementAndGet(); None }
        }
      }
    val served = if (reverse) spans.reverse else spans
    // An index cursor over the served spans: pages of `fetchSize` rows
    // run across span boundaries, and each page start is one simulated
    // server round trip, checked against host liveness.
    new RowCursor {
      private var nextSpan = 0
      private var at = 0 // next row index to serve (reverse: one past it)
      private var stop = 0 // the open span's end (reverse: its start)
      private var pageLeft = 0
      private var p = -1

      def pos: Int = p

      def hasNext: Boolean = {
        while (at == stop && nextSpan < served.length) {
          val (s, e) = served(nextSpan)
          nextSpan += 1
          if (s < e) { if (reverse) { at = e; stop = s } else { at = s; stop = e } }
        }
        at != stop
      }

      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException(s"bucket $bucket of $table is exhausted")
        if (pageLeft == 0) {
          if (!BucketServers.isUp(host))
            throw new IOException(s"connection to $host lost mid-stream (task retry will re-plan)")
          HostConnection.roundTripCount.incrementAndGet()
          pageLeft = fetchSize
        }
        pageLeft -= 1
        val i = if (reverse) { at -= 1; at } else { at += 1; at - 1 }
        p = f.posOf(i)
        // rows written before an ADD COLUMN are shorter than this
        // snapshot's schema: serve them NULL-padded (stored form never
        // rewritten)
        BucketStore.pad(rows(i), width)
      }
    }
  }
}

/** A forward-only stream of one bucket's rows that also names each
  * row's PHYSICAL position ([[BucketStore.FoldedBucket.posOf]]), the
  * row id the delta DML path addresses: `pos` is the position of the
  * row the last `next()` returned.
  */
abstract class RowCursor extends Iterator[Row] {
  def pos: Int
}

object RowCursor {
  /** A cursor over already materialized (row, position) pairs. */
  def over(pairs: Iterator[(Row, Int)]): RowCursor = new RowCursor {
    private var p = -1
    def pos: Int = p
    def hasNext: Boolean = pairs.hasNext
    def next(): Row = { val (r, q) = pairs.next(); p = q; r }
  }
}

/** The rows of `in` that pass `keep`, at most `limit` of them. It pulls
  * from `in` only as far as the next kept row, so a reached limit stops
  * the page fetches: a LIMIT 10 never drains the bucket's pages.
  */
private[bucketed] final class KeptRows(in: RowCursor, keep: Row => Boolean, limit: Int)
  extends RowCursor {
  private var left = limit
  private var head: Row = _
  private var headPos = -1
  private var p = -1

  def pos: Int = p

  def hasNext: Boolean = {
    while (head == null && left > 0 && in.hasNext) {
      val r = in.next()
      if (keep(r)) { head = r; headPos = in.pos }
    }
    head != null
  }

  def next(): Row = {
    if (!hasNext) throw new NoSuchElementException("no further kept row")
    val r = head
    head = null
    p = headPos
    left -= 1
    r
  }
}

object HostConnection {
  /** Total simulated server round trips (pages fetched) — spec hook. */
  val roundTripCount = new AtomicLong()

  /** Blocks pruned by fetch-side zone maps — spec hook. */
  val blocksSkippedCount = new AtomicLong()
}
