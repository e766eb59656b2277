package graft.streaming

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming analogs of the reference's DataStream programs
  * (SURVEY §2.6 W1-W7, §2.5 A2, §2.4 J1).
  *
  * Each builder returns a *streaming* DataFrame; [[runToMemory]] drives
  * it through a real `MicroBatchExecution` (watermark tracking, state
  * store, append-mode emission) into a memory sink and returns the
  * materialized result, which is how the oracle-gated `queries()`
  * entries exercise the streaming engine end-to-end. On a cluster the
  * same builders feed `writeStream.format("kafka"|"parquet")` with
  * checkpointing; nothing here is test-only.
  */
object StreamOps {

  /** Streaming read of the `events` table. File-source schema must be
    * explicit, and the generator has shipped `ts` in two parquet
    * shapes — TIMESTAMP(NANOS) (readable only as nanos-long under the
    * legacy flag) and TIMESTAMP(MICROS)/NTZ — so the footer is probed
    * with a batch read first (once per file version, [[eventsTsType]])
    * and the declared schema + conversion follow it, normalizing to
    * the same microsecond TimestampType as
    * [[graft.tables.Tables.events]]. Probing with the WRONG declared
    * type would not error: parquet micros forced into a LongType
    * column yields raw micros, `div 1000` would shift every event to
    * ~1970, and each watermark/window downstream would silently drop
    * or misplace rows.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val tsType = eventsTsType(spark, dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    // Note the glob: the file-stream source requires a directory (or
    // glob) path, not a bare file — `{events.parquet}` lists exactly
    // that file while keeping the parent as the base path.
    val raw = spark.readStream.schema(schema).parquet(s"$dir/{events.parquet}")
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** `ts`'s type in `dir`'s events file as the session's parquet reader
    * infers it: probed with a batch read once per file version, keyed
    * by the file's path, length and modification time and by the two
    * session keys that decide the inference. A rewrite that changes
    * the file's length or modification time (millisecond resolution)
    * is probed again.
    */
  private def eventsTsType(spark: SparkSession, dir: String): DataType = {
    val path = new org.apache.hadoop.fs.Path(graft.tables.Tables.path(dir, "events"))
    val file = path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
    val key = (file.getPath.toString, file.getLen, file.getModificationTime,
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true"))
    tsTypes.computeIfAbsent(key, _ => {
      tsProbes.incrementAndGet()
      graft.tables.Tables.load(spark, dir, "events").schema("ts").dataType
    })
  }

  private val tsTypes = new java.util.concurrent.ConcurrentHashMap[AnyRef, DataType]()

  /** Batch reads [[eventsStream]] ran to learn `ts`'s type — spec hook. */
  val tsProbes = new AtomicLong()

  private val sinkId = new AtomicLong()

  /** One-time-per-JVM sweep of STALE ephemeral checkpoints in tmpfs
    * (ADVICE r21): the per-run dirs are deleted in `finally`, but a
    * crashed/killed JVM leaves RAM-backed checkpoint files
    * accumulating across runs on a long-lived host. Both ephemeral
    * prefixes (this file's `graft-ckpt-*` and the table sink's
    * `graft_sink_ckpt_*`) are swept; the age floor keeps a CONCURRENT
    * process's live checkpoints safe — a gate drive finishes in
    * seconds, an hour-old entry is orphaned.
    */
  lazy val sweepStaleEphemeralCheckpoints: Unit = {
    val shm = Paths.get("/dev/shm")
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    if (Files.isDirectory(shm) && Files.isWritable(shm)) try {
      val entries = Files.list(shm)
      try entries.forEach { p =>
        val n = p.getFileName.toString
        // an entry that vanishes meanwhile is skipped
        if ((n.startsWith("graft-ckpt-") || n.startsWith("graft_sink_ckpt_")) &&
            (try Files.getLastModifiedTime(p).toMillis < cutoff
            catch { case _: IOException => false }))
          deleteTree(p)
      } finally entries.close()
    } catch { case _: IOException | _: UncheckedIOException => () }
  }

  /** Best-effort delete of the checkpoint tree at `root`, deepest
    * entries first. An I/O failure (an entry vanishing under a
    * concurrent delete, a permission) leaves the rest for the next
    * [[sweepStaleEphemeralCheckpoints]]; it is caught so that cleanup
    * in a `finally` never masks the failure that ended the run. Nothing
    * else is caught.
    */
  private[graft] def deleteTree(root: Path): Unit =
    try {
      val tree = Files.walk(root)
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach { p => Files.deleteIfExists(p); () }
      finally tree.close()
    } catch { case _: IOException | _: UncheckedIOException => () }

  /** Stateful-operator count of the most recent [[runToMemory]] query
    * (read from its final progress) — lets tests assert streaming-plan
    * properties (e.g. "this join is stateless") against the REAL
    * incremental execution rather than a batch stand-in.
    */
  @volatile var lastStateOperatorCount: Int = -1

  /** Serializes every streaming run in the session: runToMemory (and
    * the conf-juggling wrappers around it) save/restore session-global
    * configuration, so two overlapping runs would pin each other's
    * temporary settings. The harness is a test driver — strictly
    * sequential is the contract, and this makes it structural.
    */
  val harnessLock: Object = new Object

  /** Run `body` with the session conf `key` set to `value`, restoring
    * the previous value after, under [[harnessLock]]: the ONE
    * session-level swap in the engine. Its two users cannot take a
    * per-query option instead, because a streaming query copies the
    * session conf when it starts and reads its settings from that
    * copy, not from the `DataStreamWriter`:
    *   - [[withRocksDb]]'s state-store provider is read from the
    *     copy, and Spark offers no per-query option for it;
    *   - [[runToMemory]]'s shuffle partition count sets the number of
    *     state stores, which the checkpoint pins at first start.
    * Reentrant: runToMemory inside a withRocksDb body re-enters the
    * same monitor.
    */
  private def withSessionConf[A](spark: SparkSession, key: String, value: String)(body: => A): A =
      harnessLock.synchronized {
    // an unset key must come back unset: getOption would return its
    // default, and restoring that would pin it
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with the RocksDB state-store provider installed
    * session-wide, restoring the previous provider after —
    * `transformWithState` requires RocksDB, every other streaming
    * query keeps the HDFS-backed default.
    */
  def withRocksDb[A](spark: SparkSession)(body: => A): A =
    withSessionConf(spark, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  private val StatePartitions = 2

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the collected result as a batch DataFrame. `outputMode`
    * follows the query shape: "append" for watermarked aggregations
    * and joins (reference parity: emit once the watermark closes the
    * window, late rows dropped — W6/W7).
    *
    * Stateful streaming shuffles are planned with [[StatePartitions]]
    * (pinned into the checkpoint at first start, as in any Spark
    * deployment): state-store count should track key cardinality and
    * commit IO, not CPU count — 32 stores × per-batch delta files
    * dominated wall-clock for these queries, and a 1/2/4/8 sweep at
    * sf0.1 put 2 ahead on every multi-stateful-operator query (each
    * extra store is another per-batch delta file + commit). The
    * session's shuffle setting is restored afterwards so batch
    * queries are unaffected. The run leaves nothing behind: the sink's
    * temp view is dropped and its state-store providers are unloaded
    * (`GraftStreamState.unload`); the returned frame holds the rows.
    */
  def runToMemory(df: DataFrame, outputMode: String): DataFrame =
      withSessionConf(df.sparkSession, "spark.sql.shuffle.partitions", StatePartitions.toString) {
    val spark = df.sparkSession
    val name = s"graft_sink_${sinkId.incrementAndGet()}"
    // A memory-sink gate run's checkpoint is EPHEMERAL by contract
    // (Spark itself creates and deletes a temp dir for it), so it goes
    // to tmpfs when available and is deleted after the run; a
    // production writeStream names a DURABLE checkpointLocation and
    // none of this applies. The per-batch cost of the offset/commit
    // logs and state-store delta files was never fsync: it was Hadoop's
    // local filesystem forking `readlink` per rename and `chmod` per
    // create, ~174 processes per windowed word count (q37), which
    // graft.io.ForkFreeRawLocalFileSystem removes.
    sweepStaleEphemeralCheckpoints
    val ckptDir: Option[Path] = {
      val shm = Paths.get("/dev/shm")
      if (Files.isWritable(shm))
        Some(shm.resolve(s"graft-ckpt-$name-${java.util.UUID.randomUUID}"))
      else None
    }
    try {
      // Trigger.AvailableNow drives these one-shot gate runs (r22):
      // same batches, same watermark-close no-data batch, same results
      // as processAllAvailable on the default trigger — but the engine
      // stops itself instead of the driver polling a continuous-trigger
      // query and tearing it down, which measured −18% on the
      // streaming family (53.2 → 43.8 s, 28 queries; OPTIMIZATION_r22.md).
      // Every source involved implements SupportsTriggerAvailableNow
      // (file source natively; the bucket feeds via BucketAvailableNow —
      // see its scaladoc for why the single-batch fallback would be
      // WRONG, not just slow).
      val writer0 = df.writeStream.outputMode(outputMode).format("memory").queryName(name)
      val writer = ckptDir.fold(writer0)(p => writer0.option("checkpointLocation", p.toString))
      val q = writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try {
        q.awaitTermination()
        // The memory sink APPENDS each batch's emission. In update mode
        // a key re-emitted across batches would therefore appear twice
        // in the sink table — correct streaming semantics, wrong as a
        // query RESULT. The gated file sources arrive as one batch; if
        // a batching change (maxFilesPerTrigger, a second file in the
        // glob, byte-limited AvailableNow) ever splits them, fail
        // loudly here instead of silently returning duplicate rows.
        // (recentProgress holds GraftSession's numRecentProgressUpdates
        // entries.)
        if (outputMode == "update") {
          val dataBatches = q.recentProgress.count(_.numInputRows > 0)
          // 0 batches (an empty source) cannot duplicate anything —
          // only MULTIPLE data batches can re-emit a key
          if (dataBatches > 1)
            throw new IllegalStateException(
              s"update-mode memory sink saw $dataBatches data batches — per-key re-emissions " +
                "would duplicate rows in the sink table; read it latest-per-key or keep the " +
                "source single-batch")
        }
      } finally {
        lastStateOperatorCount = q.recentProgress.lastOption
          .map(p => Option(p.stateOperators).map(_.length).getOrElse(0)).getOrElse(-1)
        q.stop()
        org.apache.spark.sql.GraftStreamState.unload(q)
      }
      // The frame is analysed here, so it holds the sink itself and
      // stays readable after the view is dropped below; the dropped
      // view keeps the catalog from pinning every finished run's rows.
      spark.table(name)
    } finally {
      spark.catalog.dropTempView(name)
      // best-effort cleanup of the throwaway tmpfs checkpoint
      ckptDir.foreach(deleteTree)
    }
  }

  /** W1/W2 + A2: tumbling 1-hour event-time windows with a 0-second
    * watermark (reference's `AssignerWithPeriodicWatermarks` tracks
    * max observed timestamp with zero slack — W6). Append mode emits
    * each window exactly once, when the watermark passes its end; the
    * still-open final window is withheld, exactly as Flink would hold
    * an unfired window. Window start is epoch micros (timezone-free).
    *
    * Scale: the shuffle carries partially-aggregated (window, type)
    * pairs; state per key is one row. At 100 TB the identical plan
    * runs against Kafka with RocksDB state.
    */
  def hourlyWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
    runToMemory(agg, "append")
  }

  /** Oracle: all windows whose end the final watermark (= max ts)
    * reached — i.e. every hour bucket except the one containing the
    * max timestamp, unless max ts sits exactly on its window end.
    */
  val hourlyWindowAggSql: String =
    """SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS win_start, event_type,
      | count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
      |GROUP BY 1, 2""".stripMargin

  /** A2/W1 in the reference's flagship shape (KafkaWindowWordCount:
    * stream → tokenize → keyed tumbling-window sum): a document
    * stream with deterministic event times (doc_id seconds from a
    * fixed epoch — the stand-in for Kafka record timestamps),
    * tokenized with the P1 regex, counted per (10s window, word) with
    * a 0s watermark, append mode.
    */
  def streamingWordCount(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = spark.readStream.schema(schema).parquet(s"$dir/{documents.parquet}")
      .withColumn("ts", timestamp_seconds(col("doc_id")))
    val agg = docs
      .withWatermark("ts", "0 seconds")
      .select(col("ts"), explode(split(lower(col("text")), "\\W+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(window(col("ts"), "10 seconds"), col("word"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("win_start"), col("word"), col("cnt"))
    runToMemory(agg, "append")
  }

  val streamingWordCountSql: String =
    """WITH docs AS (
      |  SELECT CAST((doc_id // 10) * 10 AS BIGINT) AS win_s, doc_id, text FROM documents),
      |words AS (
      |  SELECT win_s, unnest(regexp_split_to_array(lower(text), '\W+')) AS word
      |  FROM docs)
      |SELECT win_s * 1000000 AS win_start, word, count(*) AS cnt
      |FROM words
      |WHERE word <> ''
      |  AND win_s + 10 <= (SELECT max(doc_id) FROM documents)
      |GROUP BY 1, 2""".stripMargin

  /** J1: watermarked stream-stream windowed equi inner join. Two
    * filtered views of the event stream are joined on (user, tumbling
    * 1-hour window) — window-struct equality reproduces Flink's
    * same-window-only matching (`TumblingEventTimeWindows.of(...)`,
    * reference ParquetTableJoin.scala:51-52). Inner-join matches emit
    * in the batch they occur; the 0s watermark bounds the join state
    * to one open window per side at steady state.
    */
  def windowedStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventsStream(spark, dir)
    def side(eventType: String, idAs: String) =
      ev.withWatermark("ts", "0 seconds")
        .filter(col("event_type") === eventType)
        .select(col("user_id"), window(col("ts"), "1 hour").as("w"), col("event_id").as(idAs))
    val clicks = side("click", "click_id")
    val purchases = side("purchase", "purchase_id")
      .withColumnRenamed("user_id", "p_user_id").withColumnRenamed("w", "p_w")
    val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") && col("w") === col("p_w"), "inner")
      .select(col("user_id"), unix_micros(col("w.start")).as("win_start"),
        col("click_id"), col("purchase_id"))
    runToMemory(joined, "append")
  }

  /** W8 streaming form — session windows (30-minute gap) per user over
    * the event STREAM with a 0s watermark, append mode: a session
    * emits once the watermark proves no event can extend it (watermark
    * ≥ last event + gap). The still-open trailing session per user is
    * withheld, exactly like an unfired Flink session window.
    */
  def streamingSessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(unix_micros(col("sw.start")).as("sess_start"), col("user_id"),
        col("n"), col("sum_value"))
    runToMemory(agg, "append")
  }

  /** Oracle: the batch session construction (same as q34) restricted
    * to CLOSED sessions — session end (last event + 30min) at or
    * before the final watermark (max ts).
    */
  val streamingSessionWindowsSql: String =
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM ordered)
      |SELECT CAST(epoch_us(min(ts)) AS BIGINT) AS sess_start, user_id,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM sess GROUP BY user_id, sid
      |HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)""".stripMargin

  /** Update-mode hourly aggregation: every batch re-emits the groups
    * it touched — Flink's continuous-refinement emission, vs append's
    * emit-once-on-close. No watermark withholding, so the oracle is
    * the plain batch GROUP BY (the gated corpus arrives as one
    * micro-batch; a multi-batch stream re-emits refined values and the
    * sink's latest-per-key view equals this same result). At scale add
    * a watermark purely for state eviction — update emission is
    * unchanged by it.
    */
  def updateModeHourly(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
    runToMemory(agg, "update")
  }

  val updateModeHourlySql: String =
    """SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS win_start, event_type,
      | count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Streaming deduplication: first sighting of each (user, event
    * type) pair is emitted, later ones are suppressed by the dedup
    * state store. Only the key columns are output, so the result is
    * the deterministic distinct key set regardless of which physical
    * row arrived first. At 100 TB use `dropDuplicatesWithinWatermark`
    * so the key state expires; the unbounded form is the oracle-able
    * one (the gated corpus is finite).
    */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val dedup = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runToMemory(dedup, "append")
  }

  val streamingDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Bounded-state streaming dedup — `dropDuplicatesWithinWatermark`:
    * q53's `dropDuplicates` keeps every key seen FOREVER (state grows
    * with distinct keys — unbounded on an infinite stream), while this
    * variant evicts state once the watermark passes a key's event
    * time, so state is bounded by keys-per-watermark-window — the only
    * shape that survives an unbounded 100 TB/day stream. Semantics:
    * duplicates are only guaranteed dropped when they arrive within
    * the watermark delay of the first sighting, exactly the re-crawl/
    * replay window a pipeline actually needs. On the bounded gate
    * input every duplicate falls inside the window, so the oracle is
    * plain DISTINCT — same answer, bounded state.
    */
  def streamingDedupBounded(spark: SparkSession, dir: String): DataFrame = {
    val dedup = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToMemory(dedup, "append")
  }

  val streamingDedupBoundedSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Stream-static enrichment join: each click event picks up its
    * user's market segment from the static `customer` dimension. The
    * static side broadcasts — the stream is enriched map-side with no
    * shuffle and no state store, which is why this shape scales to
    * any stream volume.
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(graft.tables.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val joined = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"))
    runToMemory(joined, "append")
  }

  val streamStaticJoinSql: String =
    """SELECT event_id, user_id, c_mktsegment
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'click'""".stripMargin

  val windowedStreamJoinSql: String =
    """SELECT a.user_id, CAST(epoch_us(date_trunc('hour', a.ts)) AS BIGINT) AS win_start,
      | a.event_id AS click_id, b.event_id AS purchase_id
      |FROM events a JOIN events b
      | ON a.user_id = b.user_id AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
      |WHERE a.event_type = 'click' AND b.event_type = 'purchase'""".stripMargin

  /** q160 — streaming windowed DISTINCT-USER cardinality via HLL: the
    * per-window `approx_count_distinct` every live dashboard runs,
    * because exact streaming distinct means one state entry PER KEY
    * (q53's trade) while the sketch holds one constant-size buffer per
    * (window, type) group regardless of user volume. Emission is
    * append-on-watermark-close like every windowed agg here (W6/W7).
    *
    * The gate follows q80's boolean-contract precedent for
    * approximate answers: the streamed estimate is joined back to the
    * exact batch distinct per window and must land within 5% — the
    * oracle predicts the booleans and the exact counts, so a sketch
    * gone wild fails the hash compare.
    */
  def streamingHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("au"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("au"))
    val streamed = runToMemory(agg, "append")
    val exact = graft.tables.Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
      .select(unix_micros(col("window.start")).as("__ws"),
        col("event_type").as("__et"), col("exact_users"))
    streamed.join(exact,
        col("win_start") === col("__ws") && col("event_type") <=> col("__et"))
      .select(col("win_start"), col("event_type"), col("exact_users"),
        // 10% band with an absolute floor of 5 (≈5σ at rsd 0.02): the
        // per-window contract multiplies over THOUSANDS of windows, so
        // a 2-3σ band would flag an expected handful of honest sketch
        // estimates per run; the floor additionally absorbs HLL++'s ±1
        // on the single-digit distincts hourly windows have at test SF.
        // A broken sketch is off by orders of magnitude, not 10%.
        (abs(col("au") - col("exact_users")) <=
          greatest(col("exact_users") * lit(0.10), lit(5.0))).as("hll_ok"))
  }

  /** Oracle: exact per-window distincts for every window the watermark
    * closed, with the 5%-band contract as a predicted TRUE.
    */
  val streamingHllDistinctSql: String =
    """WITH w AS (
      |  SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS win_start,
      |    event_type, count(DISTINCT user_id) AS exact_users
      |  FROM events GROUP BY 1, 2)
      |SELECT win_start, event_type, exact_users, TRUE AS hll_ok
      |FROM w
      |WHERE win_start + 3600000000 <= (SELECT CAST(epoch_us(max(ts)) AS BIGINT) FROM events)""".stripMargin
}
