package org.apache.spark.sql

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{FormattedMode, LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Eager materialization that hands the planner the frame's REAL size.
  *
  * `Dataset.localCheckpoint(true)` computes a frame once and cuts its
  * lineage, but the `LogicalRDD` it returns carries the origin plan's
  * size ESTIMATE — for a join-derived frame the product of its inputs,
  * so a kilobyte rank table reads as terabytes and every later join
  * against it sort-merges. [[materialize]] does the same checkpoint,
  * and its one job also returns each partition's row count and
  * `UnsafeRow` byte total; the result is a Dataset over a `LogicalRDD`
  * whose statistics are those measured numbers. The planner
  * (`spark.sql.autoBroadcastJoinThreshold`, then AQE) then chooses
  * broadcast or shuffle for every join that reads the frame — no
  * operator writes its own size gate or runs its own `count()`.
  *
  * Bytes come from the rows themselves, never from the schema's
  * default sizes: `ArrayType.defaultSize` counts an `array<double>`
  * embedding as 8 bytes.
  */
object GraftMaterialize {

  /** Compute `df` once, cut its lineage and record its row count and
    * byte size as the result's statistics. `reliable` checkpoints to
    * the context's checkpoint directory (surviving executor loss)
    * instead of executor blocks.
    *
    * Plan evidence: the result's plan is a `Scan ExistingRDD` stub, so
    * when `GRAFT_PLAN_CAPTURE_DIR` is set the frame's pre-checkpoint
    * plan is written first, to `<dir>/<tag>_<n>.txt`. Unset (every
    * driver and bench run), the hook costs one check.
    */
  def materialize(df: DataFrame, tag: String, reliable: Boolean = false): DataFrame = {
    captureDir.foreach(capture(_, tag, df))
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val schema = ds.schema
    val (rdd, parts) = SQLExecution.withNewExecutionId(qe, Some(s"materialize $tag")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      // a reliable checkpoint is written by a second job after the
      // first; the persisted blocks spare that job a recompute
      if (reliable) rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      else rdd.localCheckpoint()
      (rdd, session.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var rows, bytes = 0L
        it.foreach { r =>
          rows += 1
          bytes += (r match { case u: UnsafeRow => u; case o => toUnsafe(o) }).getSizeInBytes
        }
        (rows, bytes)
      }))
    }
    val stats = Statistics(BigInt(parts.map(_._2).sum), Some(BigInt(parts.map(_._1).sum)))
    // fromDataset keeps the origin's output partitioning, ordering and
    // constraints; only the statistics are replaced
    val plan = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    ClassicDataset.ofRows(session, plan.copy()(session, Some(stats), Some(plan.constraints)))
  }

  /** The statistics [[materialize]] recorded for `df`. */
  def recorded(df: DataFrame): Statistics = df.queryExecution.analyzed match {
    case r: LogicalRDD if r.stats.rowCount.isDefined => r.stats
    case p => throw new IllegalArgumentException(s"not a materialized frame: ${p.nodeName}")
  }

  /** The row count [[materialize]] recorded for `df`. */
  def rowCount(df: DataFrame): Long = recorded(df).rowCount.get.toLong

  /** Whether a join side DERIVED from the materialized `frame` fits the
    * broadcast threshold, bounded by the frame's recorded size: the
    * side holds at most one row per frame row, none wider than a frame
    * row. Sides that are materialized frames, or are projected,
    * filtered or aggregated from one, need no such call — the planner
    * scales their recorded statistics itself. A side computed through a
    * join does: without CBO Spark estimates a join as the product of its
    * inputs, so a per-node aggregate over an edge join never broadcasts
    * on the planner's own estimate.
    */
  def broadcastable(frame: DataFrame): Boolean =
    recorded(frame).sizeInBytes <=
      frame.asInstanceOf[ClassicDataset[Row]].sparkSession.sessionState.conf
        .autoBroadcastJoinThreshold

  private val captureDir = sys.env.get("GRAFT_PLAN_CAPTURE_DIR").map(Paths.get(_))
  private val captures = new ConcurrentHashMap[String, AtomicInteger]()

  private def capture(dir: java.nio.file.Path, tag: String, df: DataFrame): Unit = {
    val n = captures.computeIfAbsent(tag, _ => new AtomicInteger()).incrementAndGet()
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${tag}_$n.txt"),
      df.queryExecution.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8)): Unit
  }
}
