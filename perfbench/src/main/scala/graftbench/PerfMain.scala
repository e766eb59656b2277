package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbench.ListenerBusSync
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one session on `local[cores]`, one
  * closed-loop client issuing a workload's `SparkEntry.queries` one
  * after another. It only times the public calls it makes and reads
  * public counters and listener events; `perfbench/run.py` turns the
  * raw record it writes into metrics.
  *
  * Arguments (all required): `--input <dir>` the tables, `--out <dir>`
  * where results and the record go, `--orders <file>` one line per pass
  * of comma-separated query names (the first line is the untimed
  * warm-up pass that ends set-up, the second the checked one),
  * `--seconds <s>` how long the timed passes run, `--min-passes <n>`,
  * `--trace <0|1>` and `--cores <n>`.
  *
  * The first warm-up pass runs as a timed pass does (recorded as pass
  * -2) and ends set-up. The second writes each query's full result to
  * `<out>/results/<query>` for the oracle compare (pass -1). Every
  * other execution builds the DataFrame, forces the executed plan, then
  * runs `queryExecution.toRdd.count()`, as `graft.Bench` times a query.
  * With `--trace 1`, odd passes are traced and even passes are not, so
  * the run measures its own tracing overhead. After each timed pass,
  * outside its timing, three rounds of [[Reference]] work record how
  * fast the machine ran then.
  */
object PerfMain {

  private val runtime = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  // Epoch milliseconds with sub-millisecond resolution, on the same
  // base as listener event times.
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  // CPU nanoseconds of the JVM's own threads (utime + stime in
  // /proc/self/task/*/stat), by kind: "jit" for the JIT compiler
  // threads, "gc" for the collector's. Empty where /proc is absent.
  // Kernel clock ticks (USER_HZ), the unit of those fields.
  private val ticksPerSecond = 100.0
  private def vmThreadCpuNs(): Map[String, Double] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) return Map.empty
    val acc = mutable.Map("jit" -> 0.0, "gc" -> 0.0)
    val listing = Files.list(tasks)
    try listing.iterator().asScala.foreach { t =>
      val stat = try new String(Files.readAllBytes(t.resolve("stat"))) catch { case _: Exception => "" }
      val close = stat.lastIndexOf(')')
      if (close > 0) {
        val comm = stat.substring(stat.indexOf('(') + 1, close)
        val kind =
          if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")) Some("jit")
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) Some("gc")
          else None
        kind.foreach { k =>
          val f = stat.substring(close + 2).split(' ')
          acc(k) += (f(11).toDouble + f(12).toDouble) / ticksPerSecond * 1e9
        }
      }
    } finally listing.close()
    acc.toMap
  }

  private def jvmReading(): Map[String, Double] = {
    val vm = vmThreadCpuNs()
    Map(
      "cpu_ns" -> os.getProcessCpuTime.toDouble,
      "jit_cpu_ns" -> vm.getOrElse("jit", 0.0),
      "gc_cpu_ns" -> vm.getOrElse("gc", 0.0),
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble,
      "alloc_bytes" -> threads.getTotalThreadAllocatedBytes.toDouble)
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val input = opt("input")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val orders = Files.readAllLines(Paths.get(opt("orders"))).asScala.toVector
      .map(_.split(',').toVector.filter(_.nonEmpty)).filter(_.nonEmpty)
    val warmup = orders.head
    val passOrders = orders.tail

    val spark: SparkSession = GraftSession
      .builder("graft-perfbench", s"local[$cores]", shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer
    if (traced) {
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streams)
    }

    val executions = mutable.ArrayBuffer.empty[Map[String, Any]]

    // One execution: build, force the plan, run as graft.Bench does.
    def execute(q: String, pass: Int): Unit = {
      val t0 = now()
      var built, planned: Option[Double] = None
      var rows = -1L
      val error = try {
        val df = SparkEntry.queries(q)(spark, input)
        built = Some(now())
        df.queryExecution.executedPlan
        planned = Some(now())
        rows = df.queryExecution.toRdd.count()
        None
      } catch { case e: Throwable => Some(errorText(e)) }
      val end = now()
      spark.catalog.clearCache()
      executions += Map("pass" -> pass, "query" -> q, "start" -> t0, "built" -> built,
        "planned" -> planned, "end" -> end, "rows" -> rows, "error" -> error)
    }

    // Set-up ends after a first warm-up pass, run as the timed passes
    // run: session, store loads and codegen. A second warm-up pass
    // keeps each result for the oracle compare and lets the JIT settle
    // further; it is not part of set-up.
    warmup.foreach(execute(_, -2))
    val setupEnd = now()
    System.err.println(f"[perfbench] set-up ${(setupEnd - runtime.getStartTime) / 1e3}%.2fs")
    Files.createDirectories(out.resolve("results"))
    passOrders.head.foreach { q =>
      val t0 = now()
      val error = try {
        SparkEntry.queries(q)(spark, input).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve("results").resolve(q).toString)
        None
      } catch { case e: Throwable => Some(errorText(e)) }
      spark.catalog.clearCache()
      executions += Map("pass" -> -1, "query" -> q, "start" -> t0, "end" -> now(),
        "error" -> error)
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // Passes run while the next one, at the last pass's length, still
    // ends within `seconds`, and at least `minPasses` run.
    // Compile the reference work (see Reference) before its first round.
    for (_ <- 1 to 20) Reference.runMs(cores)
    val timedStart = now()
    var lastPass = 0.0
    var p = 0
    while (p + 1 < passOrders.size &&
        (p < minPasses || now() - timedStart + lastPass <= seconds * 1000)) {
      val tracedPass = traced && p % 2 == 1
      if (traced) ListenerBusSync.drain(spark.sparkContext)
      tracer.enabled = tracedPass
      val store0 = if (tracedPass) StoreCounters.read() else Map.empty
      val listener0 = tracer.totalsNow()
      val jvm0 = jvmReading()
      val start = now()
      passOrders(p + 1).foreach(execute(_, p))
      val end = now()
      lastPass = end - start
      val jvm1 = jvmReading()
      if (traced) ListenerBusSync.drain(spark.sparkContext)
      tracer.enabled = false
      passes += Map("pass" -> p, "traced" -> tracedPass, "start" -> start, "end" -> end,
        "jvm_before" -> jvm0, "jvm_after" -> jvm1,
        "listener_before" -> listener0, "listener_after" -> tracer.totalsNow(),
        "store_before" -> store0,
        "store_after" -> (if (tracedPass) StoreCounters.read() else Map.empty),
        "reference_ms" -> Seq.fill(3)(Reference.runMs(cores)))
      p += 1
    }

    // Memory held once the timed passes are over: store snapshots,
    // retained versions and anything cached. Spark's cleaner releases
    // shuffle and broadcast state only after a GC has found it
    // unreachable, so collect until the live heap stops shrinking.
    def liveAfterGc(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var liveHeap = liveAfterGc()
    var shrinking = true
    for (_ <- 1 to 8 if shrinking) {
      val next = liveAfterGc()
      shrinking = next < liveHeap * 0.99
      liveHeap = math.min(liveHeap, next)
    }

    val oracle = warmup.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val record = Map(
      "jvm_start" -> runtime.getStartTime.toDouble,
      "setup_end" -> setupEnd,
      "cores" -> cores,
      "live_heap_bytes" -> liveHeap,
      "oracle_sql" -> oracle,
      "executions" -> executions,
      "passes" -> passes,
      "jobs" -> tracer.jobs.asScala.toSeq,
      "batches" -> tracer.batches.asScala.toSeq)
    Files.write(out.resolve("record.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    spark.stop()
  }
}
