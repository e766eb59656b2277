package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.{BucketStore, FileStore}

/** Idempotent writes (`txnappid`/`txnversion`, gated end-to-end by
  * q255): a retried batch publishes nothing, the high-water mark per
  * (table, app) rides every manifest so the dedupe survives a restart,
  * apps are independent, the upsert path honors the same contract, and
  * a streaming write with a `txnappid` dedupes by EPOCH — re-running a
  * whole query over the same source is exactly-once.
  */
class IdempotentWriteSpec extends SparkSuite {
  import spark.implicits._

  private def scan(t: String) =
    spark.read.format("graft-buckets").option("table", t).load()

  private def mk(name: String): Unit = {
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 100).map(i => (i.toLong, s"base-$i")).toDF("k", "tag"), "k", 4)
  }

  private def append(name: String, df: org.apache.spark.sql.DataFrame,
      app: String, v: Long): Unit =
    df.writeTo(s"graft.`$name`")
      .option("txnappid", app).option("txnversion", v.toString).append()

  test("a replayed batch publishes nothing: no version, no rows, no files") {
    mk("txn_basic")
    val batch = Seq((201L, "b-1"), (202L, "b-2")).toDF("k", "tag")
    append("txn_basic", batch, "ingest", 1L)
    val v = BucketStore.currentVersion("txn_basic")
    val files = FileStore.filesWritten.get()
    append("txn_basic", batch, "ingest", 1L) // retry
    append("txn_basic", batch, "ingest", 0L) // stale version
    assert(BucketStore.currentVersion("txn_basic") === v, "a replay must not publish")
    assert(FileStore.filesWritten.get() === files, "a replay must not write files")
    assert(scan("txn_basic").count() === 102L)
    // a DIFFERENT app with the same version number applies
    append("txn_basic", Seq((301L, "c-1")).toDF("k", "tag"), "other", 1L)
    assert(scan("txn_basic").count() === 103L)
    assert(BucketStore.txnVersionOf("txn_basic", "ingest") === Some(1L))
    assert(BucketStore.txnVersionOf("txn_basic", "other") === Some(1L))
  }

  test("the high-water mark survives a restart (manifest-carried)") {
    mk("txn_restart")
    val batch = Seq((201L, "b-1")).toDF("k", "tag")
    append("txn_restart", batch, "ingest", 7L)
    val dir = BucketStore.unload("txn_restart").get
    BucketStore.openFromDisk("txn_restart", dir)
    assert(BucketStore.txnVersionOf("txn_restart", "ingest") === Some(7L))
    append("txn_restart", batch, "ingest", 7L) // replay after the restart
    assert(scan("txn_restart").count() === 101L, "restart must not forget applied txns")
    append("txn_restart", batch, "ingest", 8L)
    assert(scan("txn_restart").count() === 102L)
  }

  test("the upsert write honors the same txn contract") {
    mk("txn_upsert")
    val batch = Seq((1L, "updated"), (201L, "new")).toDF("k", "tag")
    def upsert(): Unit = batch.writeTo("graft.`txn_upsert`")
      .option("upsert", "true")
      .option("txnappid", "ups").option("txnversion", "1").append()
    upsert()
    val v = BucketStore.currentVersion("txn_upsert")
    upsert() // retry
    assert(BucketStore.currentVersion("txn_upsert") === v)
    assert(scan("txn_upsert").count() === 101L)
    assert(scan("txn_upsert").filter(col("k") === 1L).head.getString(1) === "updated")
  }

  test("streaming with a txnappid: re-running the whole query over the same source is exactly-once") {
    mk("txn_stream")
    def runOnce(): Unit = {
      implicit val sqlCtx = spark.sqlContext
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      src.addData((501L, "s-1"), (502L, "s-2"))
      val q = src.toDF().toDF("k", "tag").writeStream
        .option("txnappid", "etl")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("txn-stream-ckpt-").toString)
        .toTable("graft.`txn_stream`")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(scan("txn_stream").count() === 102L)
    // the "restart from scratch" replay: fresh checkpoint, same data,
    // same epochs — the (app, epoch) mark makes it a no-op
    runOnce()
    assert(scan("txn_stream").count() === 102L,
      "re-running the query must not duplicate its epochs")
  }

  test("q255 gate self-audit holds at sf0.001") {
    val df = graft.sources.bucketed.BucketedQueries.idempotentAppendQuery(spark, sf)
    assert(df.count() > 0)
  }

  test("option misuse is loud") {
    mk("txn_err")
    val batch = Seq((201L, "b")).toDF("k", "tag")
    val e = intercept[Throwable] {
      batch.writeTo("graft.`txn_err`").option("txnversion", "1").append()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("requires 'txnappid'")),
      s"got $e")
    val e2 = intercept[Throwable] {
      batch.writeTo("graft.`txn_err`").option("txnappid", "a")
        .option("txnversion", "x").append()
    }
    assert(Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("must be an integer")),
      s"got $e2")
    // a BATCH write with an app id but no version cannot silently
    // become epoch-versioned
    val e3 = intercept[Throwable] {
      batch.writeTo("graft.`txn_err`").option("txnappid", "a").append()
    }
    assert(Iterator.iterate(e3)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("needs an explicit txnversion")),
      s"got $e3")
  }
}
