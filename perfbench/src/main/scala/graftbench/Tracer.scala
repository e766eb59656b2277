package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Records Spark job spans, task totals and stream-batch progress while
  * `enabled`. Registered once; a disabled tracer drops every event on
  * arrival, so untraced passes pay only the listener dispatch.
  */
final class Tracer extends SparkListener {
  @volatile var enabled = false

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  // Running totals; read between passes, after the bus is drained.
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = totals.synchronized { totals(k) += v }
  def totalsNow(): Map[String, Double] = totals.synchronized(totals.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobStarts.put(e.jobId, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    Option(jobStarts.remove(e.jobId)).foreach { start =>
      jobs.add(Map("id" -> e.jobId, "start" -> start, "end" -> e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("task_gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("input_records", m.inputMetrics.recordsRead.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  /** Per-batch progress, the Structured Streaming monitoring surface. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val ops = p.stateOperators.toSeq
        batches.add(Map("run" -> p.runId.toString, "batch" -> p.batchId, "start" -> start,
          "end" -> (start + d.getOrElse("triggerExecution", 0.0)), "duration" -> d,
          "input_rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum))
      }
  }
}
