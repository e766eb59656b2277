package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The events generator has shipped `ts` in two parquet physical
  * shapes across driver rounds — TIMESTAMP(NANOS) (Spark reads it
  * only as nanos-long under `legacy.parquet.nanosAsLong`) and
  * TIMESTAMP(MICROS) with isAdjustedToUTC unset (Spark reads
  * TIMESTAMP_NTZ). Round 10's testdata silently flipped from the
  * first to the second and every window/watermark query broke —
  * the streaming reader's declared nanos-long schema read raw micros
  * and `div 1000` shifted all of 2024 to ~1970. These fixtures pin
  * BOTH shapes through both readers so a future flip (either
  * direction) fails here, loudly, instead of in 18 gated queries.
  */
class TablesSpec extends SparkSuite {

  private def fixture(shape: String): String = {
    val url = getClass.getResource(s"/events_$shape/events.parquet")
    assert(url != null, s"missing test fixture events_$shape")
    new java.io.File(url.toURI).getParent
  }

  private val expectedHours = (0 until 6).map(h => f"2024-01-01 $h%02d:00:00")

  test("Tables.events normalizes TIMESTAMP(NANOS) parquet to session-zoned micros") {
    val df = graft.tables.Tables.events(spark, fixture("nanos"))
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got === expectedHours)
  }

  test("Tables.events normalizes TIMESTAMP(MICROS)/NTZ parquet identically") {
    val df = graft.tables.Tables.events(spark, fixture("micros"))
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got === expectedHours)
  }

  test("eventsStream probes the footer and normalizes both shapes to the same instants") {
    for (shape <- Seq("nanos", "micros")) {
      val stream = graft.streaming.StreamOps.eventsStream(spark, fixture(shape))
      assert(stream.schema("ts").dataType === TimestampType, s"shape=$shape")
      val got = graft.streaming.StreamOps.runToMemory(
          stream.select(col("event_id"), col("ts")), "append")
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got === expectedHours, s"shape=$shape")
    }
  }

  test("eventsStream probes a file's ts type once, and again once the file is rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-probe")
    val file = dir.resolve("events.parquet")
    def put(shape: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixture(shape), "events.parquet"), file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def hours(): Seq[String] = graft.streaming.StreamOps.runToMemory(
        graft.streaming.StreamOps.eventsStream(spark, dir.toString)
          .select(col("event_id"), col("ts")), "append")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(_.getString(0)).sorted.toSeq
    try {
      put("nanos")
      val p0 = graft.streaming.StreamOps.tsProbes.get()
      assert(hours() === expectedHours)
      assert(hours() === expectedHours)
      assert(graft.streaming.StreamOps.tsProbes.get() - p0 === 1,
        "a second stream build over the same file must not probe again")
      // the other shape in the same path: a stale TIMESTAMP(NANOS) answer
      // would read its micros as nanos and shift every event to ~1970
      put("micros")
      assert(hours() === expectedHours)
      assert(graft.streaming.StreamOps.tsProbes.get() - p0 === 2)
    } finally {
      val files = java.nio.file.Files.list(dir)
      try files.forEach(f => java.nio.file.Files.delete(f)) finally files.close()
      java.nio.file.Files.delete(dir)
    }
  }

  test("the two fixture shapes agree row-for-row after normalization") {
    val a = graft.tables.Tables.events(spark, fixture("nanos"))
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      .collect().map(_.toSeq).toSet
    val b = graft.tables.Tables.events(spark, fixture("micros"))
      .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
      .collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.size === 6)
  }
}
