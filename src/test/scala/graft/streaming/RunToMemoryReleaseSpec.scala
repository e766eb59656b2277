package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftStreamState}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.SparkSuite

/** A finished [[StreamOps.runToMemory]] run keeps nothing in the
  * session or the executor: its sink view is dropped, its state-store
  * providers are unloaded, and the session's conf is as before. The
  * returned frame still holds the rows.
  */
class RunToMemoryReleaseSpec extends SparkSuite {
  import spark.implicits._

  /** Words at seconds 0..39, counted per 10 s window with a 0 s
    * watermark: the windows at 0, 10 and 20 s close, 30 s stays open.
    */
  private def windowedCounts(): DataFrame = {
    val dir = Files.createTempDirectory("release_src")
    (0L until 40L).map(i => (i, s"w${i % 2}")).toDF("sec", "word")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    spark.readStream.schema("sec LONG, word STRING").parquet(dir.toString)
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds"), col("word"))
      .agg(count(lit(1)).as("n"))
      .select(unix_seconds(col("window.start")).as("win"), col("word"), col("n"))
  }

  private val expected = for (w <- Seq(0L, 10L, 20L); word <- Seq("w0", "w1")) yield (w, word, 5L)

  private def rows(df: DataFrame) = df.as[(Long, String, Long)].collect().sorted.toSeq

  test("providerIds names the providers a stopped query left loaded; unload closes them") {
    val ckpt = Files.createTempDirectory("release_ckpt")
    val q = windowedCounts().writeStream.outputMode("append").format("memory")
      .queryName("release_manual").option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    try {
      val ids = GraftStreamState.providerIds(q)
      assert(ids.size === spark.conf.get("spark.sql.shuffle.partitions").toInt)
      assert(ids.forall(GraftStreamState.isLoaded), "a stopped run's providers stay loaded")
      GraftStreamState.unload(q)
      assert(!ids.exists(GraftStreamState.isLoaded))
    } finally spark.catalog.dropTempView("release_manual")
  }

  test("runToMemory drops its sink view, unloads its providers and keeps the session conf") {
    val started = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.set(spark.streams.get(e.id))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val confBefore = spark.conf.getAll
    spark.streams.addListener(listener)
    val out = try StreamOps.runToMemory(windowedCounts(), "append")
      finally spark.streams.removeListener(listener)

    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_sink_")))
    val ids = GraftStreamState.providerIds(started.get)
    assert(ids.size === 2, "one aggregation over StreamOps.StatePartitions partitions")
    assert(!ids.exists(GraftStreamState.isLoaded))
    assert(spark.conf.getAll === confBefore)
    assert(rows(out) === expected)
    assert(rows(out.filter(col("n") > 0)) === expected)
  }
}
