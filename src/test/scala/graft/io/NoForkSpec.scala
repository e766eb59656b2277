package graft.io

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.BucketStore
import graft.streaming.StreamOps

/** Streaming checkpoints and the bucket store's parquet spill start no
  * process through Hadoop's `Shell`: a JFR recording of
  * `jdk.ProcessStart` with stack traces holds none whose stack passes
  * through `org.apache.hadoop.util.Shell`.
  */
class NoForkSpec extends SparkSuite {
  import spark.implicits._

  /** The `jdk.ProcessStart` events `body` caused that came from Shell. */
  private def shellForks(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("noforks", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filter { e =>
        e.getEventType.getName == "jdk.ProcessStart" && Option(e.getStackTrace).exists(
          _.getFrames.asScala.exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("control: the recording sees Hadoop's stock filesystem fork chmod") {
    val f = Files.createTempFile("stock", ".txt")
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), new Configuration())
    try assert(shellForks(stock.setPermission(new Path(f.toUri),
      new FsPermission(Integer.parseInt("600", 8).toShort))).nonEmpty)
    finally { stock.close(); Files.delete(f) }
  }

  test("a stateful runToMemory and a file-backed BucketStore.load fork nothing through Shell") {
    val dir = Files.createTempDirectory("noforks_src")
    (0L until 40L).map(i => (i, s"w${i % 3}")).toDF("sec", "word")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    assert(BucketStore.fileBackingEnabled)
    val forks = shellForks {
      val counts = spark.readStream.schema("sec LONG, word STRING").parquet(dir.toString)
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 seconds"), col("word"))
        .count()
      assert(StreamOps.runToMemory(counts, "append").count() === 9L)
      BucketStore.drop("noforks_load")
      BucketStore.load(spark, "noforks_load",
        (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "k", 8)
    }
    BucketStore.drop("noforks_load")
    assert(forks.isEmpty, forks.map(_.getStackTrace.getFrames.asScala.take(12)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < "))
      .mkString("\n"))
  }
}
