package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Capture `.explain("formatted")` output to files for the plan-audit
  * deliverables. Usage:
  *   runMain graft.tools.PlanDump <mode> <outDir> <sfDir> <q1>[,<q2>...]
  * `mode` = "after" (the session's current settings) or "before"
  * (round-20 settings reconstructed at runtime: InferFiltersFromGenerate
  * active, the 1 MB AQE coalesce floor) — both knobs are runtime-settable
  * SQLConf, so the before state is reproduced faithfully without a
  * checkout. Writes <outDir>/<query>_<mode>.txt.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <before|after> <outDir> <sfDir> <q1>[,<q2>...]")
    val mode = args(0)
    val outDir = Paths.get(args(1))
    val sfDir = args(2)
    val names = args(3).split(',').toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = GraftSession
      .builder("graft-plandump", s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (mode == "before") {
      spark.conf.set("spark.sql.optimizer.excludedRules", "")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    }
    Files.createDirectories(outDir)
    names.foreach { n =>
      val txt =
        try
          SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      Files.write(outDir.resolve(s"${n.replace(':', '_')}_$mode.txt"),
        txt.getBytes(StandardCharsets.UTF_8)): Unit
      println(s"[plandump] wrote ${n.replace(':', '_')}_$mode.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
