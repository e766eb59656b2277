package graft.sources.bucketed

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scale check for the cold-path constants (round 18, VERDICT task 6):
  * the q260 (filtered cold sweep) and q263 (cold MoR sweep) shapes at
  * sf0.1 (~600k lineitem rows) and at 10x that (~6M rows, the sf1
  * scale), vectorized vs row path, min of 3 cold runs each. The
  * vectorized win should GROW (or hold) with data — decode-bound; a
  * shrinking ratio would expose per-batch overhead. The 10x input is
  * the sf0.1 lineitem replicated with shifted keys (a measurement
  * harness, not a correctness oracle — correctness is gated at
  * sf0.001/0.01/0.1 by the driver). Results recorded in SCALE.md.
  *
  * Run manually with the test classpath plus the Spark jars and
  * SPARK_GRAFT_SF_DIR set.
  */
object ColdScaleBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession
      .builder("graft-coldscale", "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.tables.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))

    def replicate(times: Int) =
      if (times == 1) base
      else (0 until times).map(i =>
        base.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ union _)

    def minOf(n: Int)(body: => Double): Double = (1 to n).map(_ => body).min

    def sweep(name: String, columnar: Boolean): Double = {
      BucketStore.evictTable(name)
      require(BucketStore.get(name).buckets.loadedCount == 0)
      val t0 = System.nanoTime()
      val cutoff = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
      spark.read.format("graft-buckets").option("table", name)
        .option("columnar", columnar.toString).load()
        .filter(col("l_shipdate") >= cutoff && col("l_quantity") > 5.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(18, 4)))
            .cast("double").as("rev"))
        .collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }

    Seq(("x1", 1, 16), ("x10", 10, 16)).foreach { case (label, times, buckets) =>
      val name = s"scale_$label"
      BucketStore.drop(name)
      BucketStore.load(spark, name, replicate(times), "l_orderkey", buckets)
      BucketStore.registerStatColumns(name, Seq("l_shipdate", "l_quantity"))
      BucketStore.refreshManifestStats(name)
      val rows = spark.read.format("graft-buckets").option("table", name).load().count()

      // q260 shape: clean cold filtered sweep
      sweep(name, columnar = true): Unit // warm codegen/footers once
      val vec = minOf(3)(sweep(name, columnar = true))
      val row = minOf(3)(sweep(name, columnar = false))
      println(f"SCALE $label rows=$rows q260 vec=$vec%.3f s row=$row%.3f s ratio=${row / vec}%.2f")

      // q263 shape: the same sweep over pending MoR state (delete +
      // curve-moving update leave bits + live delta on every bucket)
      BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
      spark.sql(s"DELETE FROM graft.`$name` WHERE l_orderkey % 37 = 0")
      spark.sql(s"UPDATE graft.`$name` SET l_quantity = l_quantity + 1 WHERE l_orderkey % 41 = 0")
      val vecM = minOf(3)(sweep(name, columnar = true))
      val rowM = minOf(3)(sweep(name, columnar = false))
      println(f"SCALE $label rows=$rows q263 vec=$vecM%.3f s row=$rowM%.3f s ratio=${rowM / vecM}%.2f")
      BucketStore.drop(name)
    }
    spark.stop()
  }
}
