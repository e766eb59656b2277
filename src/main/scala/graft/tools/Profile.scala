package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Dev profiling aid: time labeled stages of a query end-to-end.
  * `Profile <sfDir> <queryName>[,<queryName>...] [reps]` prints per-rep
  * wall times plus, for the final rep, a per-Spark-job wall-time
  * breakdown (job description, duration, task count, shuffle bytes) so
  * the expensive pass inside a multi-action harness query is visible
  * without the UI, next to the physical plan (plan regressions — lost
  * pushdown, extra Exchange — show up beside the numbers).
  */
object Profile {

  /** Per-job accounting collected by a listener: (description, wall ms,
    * tasks, shuffle read bytes, shuffle write bytes, input bytes).
    */
  final class JobLog extends SparkListener {
    case class Job(desc: String, start: Long, var end: Long = -1L,
        var tasks: Int = 0, var shufRead: Long = 0L, var shufWrite: Long = 0L,
        var input: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var enabled = false

    override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs.put(js.jobId, Job(desc, js.time))
      js.stageIds.foreach(s => stageToJob.put(s, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = if (enabled) {
      Option(jobs.get(je.jobId)).foreach(_.end = je.time)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (enabled) {
      val si = sc.stageInfo
      Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { job =>
        job.tasks += si.numTasks
        job.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        job.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        job.input += si.taskMetrics.inputMetrics.bytesRead
      }
    }
    def clear(): Unit = { jobs.clear(); stageToJob.clear() }
    def report(): Unit = {
      import scala.jdk.CollectionConverters._
      val all = jobs.asScala.toSeq.sortBy(_._1)
      val totalMs = all.map { case (_, j) => math.max(0L, j.end - j.start) }.sum
      println(f"[profile] jobs=${all.size} total job wall ${totalMs / 1e3}%.3fs (overlaps possible)")
      all.foreach { case (id, j) =>
        val ms = if (j.end > 0) j.end - j.start else -1L
        println(f"[profile]   job $id%3d ${ms / 1e3}%7.3fs tasks=${j.tasks}%4d " +
          f"in=${j.input / 1e6}%8.1fMB sr=${j.shufRead / 1e6}%7.1fMB sw=${j.shufWrite / 1e6}%7.1fMB  ${j.desc.take(90)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).getOrElse("q36_shared_sql").split(',').toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = GraftSession
      .builder("graft-profile", s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    // warmup: session init, codegen compiler, parquet footers
    try SparkEntry.entry(spark).queryExecution.toRdd.count(): Unit
    catch { case e: Throwable => System.err.println(s"[profile] warmup failed: ${e.getMessage}") }
    names.foreach { name =>
      (1 to reps).foreach { r =>
        if (r == reps) { log.enabled = true; log.clear() }
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val tPlan = System.nanoTime()
        df.queryExecution.toRdd.count(): Unit
        val t1 = System.nanoTime()
        println(f"[profile] $name rep $r: build ${(tPlan - t0) / 1e9}%.3fs exec ${(t1 - tPlan) / 1e9}%.3fs")
        if (r == reps) {
          log.enabled = false
          log.report()
          if (sys.env.contains("GRAFT_PROFILE_PLAN"))
            println(df.queryExecution.executedPlan.toString.take(4000))
        }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
