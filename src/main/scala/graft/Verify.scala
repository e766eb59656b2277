package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries, in the order
    // given (an unknown name counts as failed); the driver's two-arg
    // invocation runs everything
    val queries = SparkEntry.queries
    val names = if (args.length > 2) args.drop(2).toSeq else queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession
      .builder("graft-verify", s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // operators that .cache() intermediates (dedup shingle arrays,
      // IVF centroids/assignments) would otherwise accumulate one
      // cached copy per query across the whole run
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Ship-gate manifest: EVERY registered query name, so the checker
    // can prove queries ⊆ green-checked set (a registered query with
    // no output — round 4's q91 — must fail the gate, not vanish).
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
