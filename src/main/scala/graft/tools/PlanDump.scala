package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry}

/** Capture `.explain("formatted")` output to files for the plan-audit
  * deliverables. Usage:
  *   runMain graft.tools.PlanDump <outDir> <sfDir> <q1>[,<q2>...]
  * Runs each query with the session's settings and writes its plan to
  * <outDir>/<query>.txt. With `GRAFT_PLAN_CAPTURE_DIR` set, every
  * `GraftMaterialize.materialize` the queries run also writes its
  * pre-checkpoint plan there.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <sfDir> <q1>[,<q2>...]")
    val outDir = Paths.get(args(0))
    val sfDir = args(1)
    val names = args(2).split(',').toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = GraftSession
      .builder("graft-plandump", s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(outDir)
    names.foreach { n =>
      val txt =
        try
          SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
      Files.write(outDir.resolve(s"$n.txt"), txt.getBytes(StandardCharsets.UTF_8)): Unit
      println(s"[plandump] wrote $n.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
