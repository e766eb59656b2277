package graft.sources.bucketed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Oracle-gated queries driving the graft-buckets DSv2 source
  * end-to-end: load the table into the bucket store (modeling the
  * external cluster already holding it), read back through
  * `spark.read.format("graft-buckets")`, and compare against DuckDB
  * on the raw parquet. Timestamps are emitted as epoch micros
  * (timezone-free compare).
  */
object BucketedQueries {
  /** `e` and its cause chain. The queries that provoke an expected
    * failure catch only that failure, found here (`case NonFatal(e) if
    * isWriteConflict(e)`); any other error propagates with its
    * original stack.
    */
  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  private def isWriteConflict(e: Throwable): Boolean =
    causes(e).exists(_.isInstanceOf[BucketStore.ConcurrentWriteException])

  val NumBuckets = 16

  /** Drive a streaming write into a catalog table to completion with a
    * one-shot checkpoint: create the scratch dir, process everything,
    * stop, and best-effort delete the dir so repeated gated runs don't
    * accumulate scratch (each run replays from a fresh table).
    */
  private def runStreamToTable(df: DataFrame, tableFqn: String, outputMode: String,
      options: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    graft.streaming.StreamOps.sweepStaleEphemeralCheckpoints
    // scratch checkpoint on tmpfs when available: this ONE-SHOT
    // drive's offset/commit logs and state deltas are never read back
    // (the dir is deleted below); a production stream names a durable
    // location. Their per-batch cost was Hadoop forking `readlink`/
    // `chmod` per file, not fsync (see StreamOps.runToMemory).
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckpt =
      if (java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createTempDirectory(shm,
          s"graft_sink_ckpt_${spark.sparkContext.applicationId}_")
      else java.nio.file.Files
        .createTempDirectory(s"graft_sink_ckpt_${spark.sparkContext.applicationId}_")
    // AvailableNow, exactly as StreamOps.runToMemory (one shot,
    // engine-terminated)
    val q = df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.toString)
      .options(options)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(tableFqn)
    try {
      q.awaitTermination()
    } finally {
      q.stop()
      org.apache.spark.sql.GraftStreamState.unload(q)
      graft.streaming.StreamOps.deleteTree(ckpt)
    }
  }

  private def bucketedLineitem(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"lineitem@$dir", dir, "lineitem", "l_orderkey", NumBuckets)
    spark.read.format("graft-buckets").option("table", s"lineitem@$dir").load()
  }

  /** Full-table scan through the connector — row-for-row identical to
    * the raw parquet (the reference's SnappydataConnectorTest does the
    * same via count+print, SnappydataConnectorTest.scala:17-23).
    */
  def scanQuery(spark: SparkSession, dir: String): DataFrame =
    bucketedLineitem(spark, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"),
      // l_shipdate arrives as TIMESTAMP_NTZ (parquet isAdjustedToUTC
      // unset); cast through the UTC session for the epoch compare
      unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))

  val scanSql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      | l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
      | CAST(epoch_us(l_shipdate) AS BIGINT) AS ship_us
      |FROM lineitem""".stripMargin

  /** Filtered + projected scan: the predicate and the column pruning
    * are pushed into the connector (visible as `pushed=[...] cols=[...]`
    * in the scan description) and enforced inside the per-bucket
    * reader — the strict improvement over the reference's `SELECT *`.
    */
  def pushdownQuery(spark: SparkSession, dir: String): DataFrame =
    bucketedLineitem(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))

  val pushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 30.0""".stripMargin

  /** q198 — q27's hot pushdown scan, kept as the gate of the batch
    * read: each page of kept rows reaches Spark as a `ColumnarBatch`
    * view ([[RowColumnVector]]s over the stored rows). The plan audit
    * (PlanAuditSpec) pins the `ColumnarToRow` bridge that proves
    * batches actually flowed.
    */
  def columnarPushdownQuery(spark: SparkSession, dir: String): DataFrame =
    pushdownQuery(spark, dir)

  /** Pushed-aggregate scan: COUNT/MIN/MAX with a GROUP BY evaluated
    * inside the per-bucket reader ([[BucketedAggPartitionReader]]) —
    * the connector ships one partial row per (bucket, group) and Spark
    * plans only the final merge. The reference pins buckets to push
    * computation to the storage node
    * (SnappyDataConnectorHelper.scala:23-25); this is the Spark-native
    * version: at 100 TB a `SELECT count(*)` moves `buckets × groups`
    * rows, not the table. The plan shape (`pushedAggs=[...]` in the
    * scan, no raw-row read) is asserted in PlanAuditSpec.
    */
  def aggPushdownQuery(spark: SparkSession, dir: String): DataFrame =
    bucketedLineitem(spark, dir)
      .filter(col("l_quantity") >= 10.0)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_linestatus")).as("min_status"))

  val aggPushdownSql: String =
    """SELECT l_returnflag, count(*) AS n, min(l_quantity) AS min_qty,
      | max(l_extendedprice) AS max_price, min(l_linestatus) AS min_status
      |FROM lineitem WHERE l_quantity >= 10.0
      |GROUP BY l_returnflag""".stripMargin

  /** Co-partitioned join through the catalog: lineitem and orders are
    * both bucketed 16 ways on the join key, the catalog's
    * FunctionCatalog resolves the `bucket` transform, and with
    * `spark.sql.sources.v2.bucketing.enabled` Spark plans a
    * storage-partitioned join — zero Exchange on either join side
    * (asserted in BucketedSourceSpec). The 100 TB co-located-join
    * story of the reference connector, realized in the planner.
    */
  def copartitionJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"lineitem@$dir", dir, "lineitem", "l_orderkey", NumBuckets)
    BucketStore.ensureLoaded(spark, s"orders@$dir", dir, "orders", "o_orderkey", NumBuckets)
    val li = spark.table(s"graft.`lineitem@$dir`")
    val o = spark.table(s"graft.`orders@$dir`")
    // merge hint = the honest fact⋈fact path: with real reported
    // statistics the tiny test tables would auto-broadcast (correct at
    // this size, impossible at 100 TB) — the hint pins the plan shape
    // the feature exists for: co-partitioned SMJ with zero Exchange
    li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        org.apache.spark.sql.functions.sum(
          col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
  }

  /** q126 — q42's co-bucketed SMJ with BOTH fact tables key-CLUSTERED:
    * the scans report their sorted layout
    * ([[BucketedScan.outputOrdering]]), so the merge join plans with
    * zero Exchange AND zero Sort — the whole join pipeline is
    * scan→merge→aggregate (ClusteredOrderSpec pins the plan). At
    * 100 TB this is the end state of the co-located join story: two
    * fact tables that share bucketing and key order join at streaming
    * cost, no shuffle and no sort anywhere.
    */
  def sortedCopartitionJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"lineitem_srt@$dir", dir, "lineitem", "l_orderkey",
      NumBuckets, clusterBy = Some("l_orderkey"))
    BucketStore.ensureLoaded(spark, s"orders_srt@$dir", dir, "orders", "o_orderkey",
      NumBuckets, clusterBy = Some("o_orderkey"))
    val li = spark.table(s"graft.`lineitem_srt@$dir`")
    val o = spark.table(s"graft.`orders_srt@$dir`")
    li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        org.apache.spark.sql.functions.sum(
          col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
  }

  val copartitionJoinSql: String =
    """SELECT o_orderpriority,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
      | count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q92 — the STREAMING co-bucketed join (reference:
    * ParquetTableJoin.scala:51-59, a Kafka stream joined to a table):
    * events STREAM from the bucket store via [[BucketMicroBatchStream]]
    * (one task per bucket, host-local, snapshot-versioned offsets),
    * enriched against the co-bucketed `customer` table read through
    * the same catalog. The dim side broadcasts, so the streamed fact
    * rows are NEVER shuffled — each micro-batch keeps the store's
    * bucket partitioning end to end, and the join is stateless (no
    * state store; BucketedStreamSpec asserts both, plus zero
    * `Exchange hashpartitioning` in the executed micro-batch plan).
    * Why not a storage-partitioned stateful join instead: see the
    * feasibility boundary note on [[BucketMicroBatchStream]].
    */
  def streamCoBucketedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events@$dir", dir, "events", "user_id", NumBuckets)
    BucketStore.ensureLoaded(spark, s"customer@$dir", dir, "customer", "c_custkey", NumBuckets)
    val stream = spark.readStream.format("graft-buckets")
      .option("table", s"events@$dir").load()
    val dim = spark.read.format("graft-buckets")
      .option("table", s"customer@$dir").load()
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = stream
      .filter(col("event_type") === "purchase")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"),
        unix_micros(col("ts")).as("ts_us"))
    graft.streaming.StreamOps.runToMemory(joined, "append")
  }

  val streamCoBucketedJoinSql: String =
    """SELECT event_id, user_id, c_mktsegment, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'purchase'""".stripMargin

  /** q94 — pushed SUM partials: sum(double) and sum(bigint) evaluated
    * per bucket alongside COUNT/MAX, one partial row per (bucket,
    * group) shipped. Oracle-parity note: `l_quantity` is integer-valued
    * (verified on the generated data), so the double sum is exact and
    * summation-order-independent — safe to hash-compare; a fractional
    * double column would go through the decimal-sum discipline on the
    * Spark side instead, which is exactly why DECIMAL sums stay
    * unpushed.
    */
  def sumPushdownQuery(spark: SparkSession, dir: String): DataFrame =
    bucketedLineitem(spark, dir)
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_orderkey")).as("sum_okey"),
        max(col("l_quantity")).as("max_qty"))

  val sumPushdownSql: String =
    """SELECT l_linestatus, count(*) AS n,
      | CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      | CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
      | max(l_quantity) AS max_qty
      |FROM lineitem WHERE l_quantity >= 25.0
      |GROUP BY l_linestatus""".stripMargin

  /** q110 — AVG pushdown (round-7 verdict ask #7, resolved
    * empirically): [[AggSpec.from]] deliberately declines `Avg`, and
    * Spark 4.1's `V2ScanRelationPushDown` then REWRITES the aggregate
    * into SUM+COUNT and re-offers those as partials — the probe plan
    * shows `pushedAggs=[SUM(l_quantity), COUNT(l_quantity)]` with no
    * raw-row read, and the final `sum/sum` division happens Spark-side.
    * So AVG needs no explicit store support: declining it IS the
    * correct contract, and this query + PlanAuditSpec pin the rewrite.
    * Oracle-parity: `l_quantity`/`l_orderkey` are integer-valued, so
    * the pushed double/long sums are exact and the single final
    * division is bit-identical on both sides.
    */
  def avgPushdownQuery(spark: SparkSession, dir: String): DataFrame =
    bucketedLineitem(spark, dir)
      .filter(col("l_quantity") >= 10.0)
      .groupBy(col("l_returnflag"))
      .agg(
        avg(col("l_quantity")).as("avg_qty"),
        avg(col("l_orderkey")).as("avg_okey"),
        count(lit(1)).as("n"))

  val avgPushdownSql: String =
    """SELECT l_returnflag,
      | avg(l_quantity) AS avg_qty,
      | avg(l_orderkey) AS avg_okey,
      | count(*) AS n
      |FROM lineitem WHERE l_quantity >= 10.0
      |GROUP BY l_returnflag""".stripMargin

  /** q95 — pushed TopN: ORDER BY … LIMIT runs as a bounded heap inside
    * each bucket reader (n rows per bucket cross the wire, never the
    * bucket), with Spark's global Sort+Limit re-ranking the survivors.
    * The sort is a total order (unique key tie-break) so the result is
    * deterministic and hash-gateable.
    */
  def topNPushdownQuery(spark: SparkSession, dir: String): DataFrame =
    bucketedLineitem(spark, dir)
      .filter(col("l_returnflag") === "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(25)

  val topNPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem WHERE l_returnflag = 'A'
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 25""".stripMargin

  /** q96 — runtime bucket pruning (dynamic-partition-pruning analog):
    * the broadcast dim's surviving join keys reach the fact scan as a
    * runtime IN filter ([[BucketedScan.filter]]), and the owning
    * buckets are recomputed before any connection is dialed. Here the
    * dim filter (order priority) survives thousands of keys so every
    * bucket stays live — the win case is a selective dim whose keys
    * concentrate in few buckets (point lookups, recent partitions),
    * which BucketedSourceSpec pins with a 1-key dim → 1 opened reader.
    * The plan audit asserts the runtime filter is attached to the scan.
    */
  def runtimePruneJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = bucketedLineitem(spark, dir)
    val dim = graft.tables.Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val runtimePruneJoinSql: String =
    """SELECT l_returnflag, count(*) AS n,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag""".stripMargin

  /** q97 — DSv2 WRITE path end-to-end: CTAS through the catalog
    * (`writeTo(...).partitionedBy(bucket(16, key)).create()`), rows
    * shuffled once into the store's bucket layout by the writer's
    * declared distribution, two-phase-committed under one version,
    * then read back through the same catalog and aggregated. The
    * written table is immediately storage-partitioned-join-able
    * (BucketedWriteSpec asserts zero-Exchange against a loaded table).
    */
  def writeRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.tables.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val tbl = s"graft.`lineitem_w@$dir`"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    src.writeTo(tbl)
      .partitionedBy(org.apache.spark.sql.functions.bucket(NumBuckets, col("l_orderkey")))
      .create()
    spark.table(tbl)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_qty"),
        min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"))
  }

  val writeRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q98 — STREAMING write into the bucket store (reference: the Kafka
    * producer sink, KafkaWordCountProducer — pointed at the store): the
    * events stream filtered to views flows through
    * `writeStream.toTable` into a catalog table created with the
    * bucket transform; each epoch two-phase-commits one store version;
    * the result is read back through the same catalog and aggregated.
    */
  def streamWriteQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = s"events_sink@$dir"
    spark.sql(s"DROP TABLE IF EXISTS graft.`$tbl`")
    spark.sql(s"CREATE TABLE graft.`$tbl` (event_id BIGINT, user_id BIGINT, value DOUBLE) " +
      "PARTITIONED BY (bucket(16, user_id))")
    val stream = graft.streaming.StreamOps.eventsStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("value"))
    runStreamToTable(stream, s"graft.`$tbl`", "append")
    spark.table(s"graft.`$tbl`")
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val streamWriteSql: String =
    """SELECT user_id % 10 AS cohort, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_type = 'view'
      |GROUP BY 1""".stripMargin

  /** q100 — the STORE stream through Spark's full stateful pipeline:
    * watermarked tumbling-window aggregation over the bucket-table
    * replay (q12's semantics with the table, not the file, as the
    * source). Append emission, 0s watermark — the open trailing window
    * is withheld exactly as in q12, so the two queries share an oracle.
    */
  def streamBucketWindowQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events@$dir", dir, "events", "user_id", NumBuckets)
    val stream = spark.readStream.format("graft-buckets")
      .option("table", s"events@$dir").load()
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
    graft.streaming.StreamOps.runToMemory(agg, "append")
  }

  /** q101 — the complete reference-pipeline analog (ParquetTableJoin:
    * broker in → join table → broker out, store-pointed): events
    * STREAM from the bucket store, broadcast-enriched with the
    * co-bucketed customer dim (zero shuffle of the streamed rows),
    * written to a bucket-store SINK table with per-epoch commits, then
    * read back through the catalog and aggregated. Source, join, and
    * sink all run against the store in one streaming query.
    */
  def streamEtlRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events@$dir", dir, "events", "user_id", NumBuckets)
    BucketStore.ensureLoaded(spark, s"customer@$dir", dir, "customer", "c_custkey", NumBuckets)
    val sink = s"etl_sink@$dir"
    spark.sql(s"DROP TABLE IF EXISTS graft.`$sink`")
    spark.sql(s"CREATE TABLE graft.`$sink` " +
      "(event_id BIGINT, user_id BIGINT, c_mktsegment STRING, value DOUBLE) " +
      "PARTITIONED BY (bucket(16, user_id))")
    val stream = spark.readStream.format("graft-buckets")
      .option("table", s"events@$dir").load()
    val dim = spark.read.format("graft-buckets")
      .option("table", s"customer@$dir").load()
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = stream
      .filter(col("event_type") === "click")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("value"))
    runStreamToTable(enriched, s"graft.`$sink`", "append")
    spark.table(s"graft.`$sink`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val streamEtlRoundtripSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'click'
      |GROUP BY c_mktsegment""".stripMargin

  /** q102 — the CDC feed driving a downstream net materialization:
    * load events into a fresh store table (commit 1), `DELETE` the
    * views (commit 2), `UPDATE` the clicks to double their value
    * (commit 3 — a copy-on-write bucket rewrite), then stream
    * `mode=cdc` and fold the deltas: +row on insert, −row on delete.
    * The folded net must equal the final table state — deletes cancel
    * their inserts, the COW rewrite contributes only its logical
    * delta (sign-cancelled decimal sums make that exact). This is the
    * 100 TB maintenance loop: a downstream aggregate kept current by
    * folding per-bucket deltas instead of rescanning the table.
    */
  def cdcNetQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"events_cdc@$dir"
    // fresh history per run: the CDC replay below must see exactly
    // load → delete → update, not residue from an earlier run
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.events(spark, dir), "user_id", NumBuckets)
    spark.sql(s"DELETE FROM graft.`$name` WHERE event_type = 'view'")
    spark.sql(s"UPDATE graft.`$name` SET value = value * 2 WHERE event_type = 'click'")
    val changes = spark.readStream.format("graft-buckets")
      .option("table", name).option("mode", "cdc").load()
    val ins = col(CdcSchema.ChangeType).isin(CdcSchema.Adds: _*)
    val upd = col(CdcSchema.ChangeType)
      .isin(CdcSchema.UpdatePre, CdcSchema.UpdatePost)
    val net = changes
      .groupBy(col("event_type"))
      .agg(
        org.apache.spark.sql.functions.sum(when(ins, 1L).otherwise(-1L)).as("n_net"),
        org.apache.spark.sql.functions.sum(
          when(ins, col("value")).otherwise(-col("value"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_net"),
        // the coalesced tags, observable downstream: every COW UPDATE
        // surfaces as an update_preimage/update_postimage pair
        org.apache.spark.sql.functions.sum(when(upd, 1L).otherwise(0L)).as("n_upd"))
    graft.streaming.StreamOps.runToMemory(net, "complete")
  }

  /** The folded feed equals final state: views net to zero (deleted),
    * clicks keep their count but double their value sum (updated, so
    * each contributes one pre+post update pair), everything else is
    * untouched.
    */
  val cdcNetSql: String =
    """SELECT event_type,
      | CASE WHEN event_type = 'view' THEN 0 ELSE count(*) END AS n_net,
      | CAST(CASE WHEN event_type = 'view' THEN 0
      |           WHEN event_type = 'click' THEN sum(CAST(value * 2 AS DECIMAL(18,4)))
      |           ELSE sum(CAST(value AS DECIMAL(18,4))) END AS DOUBLE) AS sum_net,
      | CASE WHEN event_type = 'click'
      |      THEN 2 * count(CASE WHEN value * 2 IS DISTINCT FROM value THEN 1 END)
      |      ELSE 0 END AS n_upd
      |FROM events GROUP BY event_type""".stripMargin

  /** q103 — MVCC time travel: load orders (version v1), DELETE the
    * open orders, then read BOTH snapshots — v1 through SQL
    * `VERSION AS OF` (catalog loadTable(ident, version)), current
    * through a plain scan — and union their per-status counts. The
    * v1 read is served entirely from the retained snapshot: the
    * deleted rows are still there, at zero re-read cost for every
    * bucket the delete never touched (copy-on-write shares their
    * arrays across versions).
    */
  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_tt@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.orders(spark, dir), "o_orderkey", NumBuckets)
    val v1 = BucketStore.currentVersion(name)
    // the RECORDED commit stamp of v1 — `TIMESTAMP AS OF` must map it
    // back to v1 (latest version ≤ t) after the DELETE publishes v2
    val ts1 = BucketStore.commitTimestamp(name, v1)
    val ts1Lit = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(ts1 / 1000000L, (ts1 % 1000000L) * 1000L))
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderstatus = 'O'")
    val asOfV1 = spark.sql(
      s"SELECT o_orderstatus, 'v1' AS snap, count(*) AS n " +
        s"FROM graft.`$name` VERSION AS OF $v1 GROUP BY o_orderstatus")
    val asOfTs1 = spark.sql(
      s"SELECT o_orderstatus, 't1' AS snap, count(*) AS n " +
        s"FROM graft.`$name` TIMESTAMP AS OF '$ts1Lit' GROUP BY o_orderstatus")
    val now = spark.read.format("graft-buckets").option("table", name).load()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .select(col("o_orderstatus"), lit("now").as("snap"), col("n"))
    asOfV1.unionAll(asOfTs1).unionAll(now)
  }

  val timeTravelSql: String =
    """SELECT o_orderstatus, 'v1' AS snap, count(*) AS n
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT o_orderstatus, 't1' AS snap, count(*) AS n
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT o_orderstatus, 'now' AS snap, count(*) AS n
      |FROM orders WHERE o_orderstatus <> 'O' GROUP BY o_orderstatus""".stripMargin

  /** q128 — MERGE-ON-READ point DML, gated end-to-end: orders switches
    * to `write.dml.mode = merge-on-read`, takes a 1-row DELETE (a
    * deletion-vector bit via the pushed-delete path) and a 1-row
    * UPDATE (Spark's delta row-level protocol: position delete + delta
    * row, [[BucketedDeltaOperation]]), and the gated read aggregates
    * the folded result. The scale point the spec pins separately: both
    * commits SHARE every base bucket array with the previous snapshot
    * — publish cost is O(changed rows), where copy-on-write pays
    * O(bucket) per touched bucket. Target keys are the two smallest
    * order keys, resolved once driver-side (metadata-scale lookup);
    * the oracle resolves the same keys with scalar subqueries.
    */
  def morDmlQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_mor@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.orders(spark, dir), "o_orderkey", NumBuckets)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    val keys = spark.read.format("graft-buckets").option("table", name).load()
      .select(col("o_orderkey")).orderBy(col("o_orderkey")).limit(2)
      .collect().map(_.getLong(0))
    val (k1, k2) = (keys(0), keys(1))
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey = $k1")
    spark.sql(s"UPDATE graft.`$name` SET o_totalprice = o_totalprice + 50 " +
      s"WHERE o_orderkey = $k2")
    spark.read.format("graft-buckets").option("table", name).load()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val morDmlSql: String =
    """WITH ka AS (SELECT min(o_orderkey) AS k1 FROM orders),
      |     kb AS (SELECT min(o_orderkey) AS k2 FROM orders
      |            WHERE o_orderkey > (SELECT k1 FROM ka))
      |SELECT o_orderstatus, count(*) AS n,
      | CAST(sum(CAST(CASE WHEN o_orderkey = (SELECT k2 FROM kb) THEN o_totalprice + 50
      |                    ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderkey <> (SELECT k1 FROM ka)
      |GROUP BY o_orderstatus""".stripMargin

  /** q129 — `TIMESTAMP AS OF` resolution semantics, gated end-to-end:
    * three commits (load → DELETE → UPDATE), then three reads that
    * pin DIFFERENT snapshots purely by timestamp. The middle read uses
    * a timestamp STRICTLY BEFORE commit 3's stamp (`ts3 − 1µs`), so it
    * exercises the "latest retained version whose commit stamp is ≤ t"
    * rule between commits — not just the exact-stamp lookup q103
    * covers. Stamps come from the store's recorded commit timestamps
    * (strictly increasing by construction, [[BucketStore.nextStamp]]),
    * so the mapping is deterministic on every machine and the DuckDB
    * oracle replays each state as a plain filtered aggregate.
    */
  def tsTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_tsof@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.orders(spark, dir), "o_orderkey", NumBuckets)
    val ts1 = BucketStore.commitTimestamp(name, BucketStore.currentVersion(name))
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderstatus = 'O'")
    spark.sql(s"UPDATE graft.`$name` SET o_totalprice = o_totalprice + 100 " +
      "WHERE o_orderpriority = '1-URGENT'")
    val ts3 = BucketStore.commitTimestamp(name, BucketStore.currentVersion(name))
    def lit(ts: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(ts / 1000000L, (ts % 1000000L) * 1000L))
    def agg(snap: String, from: String): DataFrame = spark.sql(
      s"SELECT o_orderstatus, '$snap' AS snap, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
        s"FROM $from GROUP BY o_orderstatus")
    agg("t1", s"graft.`$name` TIMESTAMP AS OF '${lit(ts1)}'")          // full table
      .unionAll(agg("mid", s"graft.`$name` TIMESTAMP AS OF '${lit(ts3 - 1)}'")) // post-DELETE, pre-UPDATE
      .unionAll(agg("now", s"graft.`$name`"))                          // post-UPDATE
  }

  val tsTravelSql: String =
    """SELECT o_orderstatus, 't1' AS snap, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT o_orderstatus, 'mid' AS snap, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus <> 'O' GROUP BY o_orderstatus
      |UNION ALL
      |SELECT o_orderstatus, 'now' AS snap, count(*) AS n,
      | CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 100
      |                    ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus <> 'O' GROUP BY o_orderstatus""".stripMargin

  /** q104 — incrementally-maintained materialized view, the CDC
    * feed's canonical consumer: orders land in the store (commit 1),
    * row-level DML churns them (DELETE the low-priority tier,
    * UPDATE a surcharge onto open orders — a COW bucket rewrite),
    * and a streaming query folds the `mode=cdc` deltas into a
    * per-cohort (count, sum) aggregate written to a SECOND bucket
    * table per epoch. The MV is then read back through the catalog
    * and must equal the aggregate of the final source state.
    *
    * The 100 TB point: the MV's refresh cost is the churn, not the
    * table — the folded feed moves only delta rows, the aggregate
    * state is per-cohort, and the sink two-phase-commits per epoch.
    * Count-zero cohorts are filtered on read-back (a group whose
    * rows all died folds to n=0, where the from-scratch aggregate
    * has no row at all — deterministic because the ±decimal terms
    * cancel exactly).
    */
  def cdcMaterializedViewQuery(spark: SparkSession, dir: String): DataFrame = {
    val src = s"orders_mv@$dir"
    val mv = s"orders_mv_out@$dir"
    BucketStore.drop(src)
    BucketStore.load(spark, src, graft.tables.Tables.orders(spark, dir), "o_orderkey", NumBuckets)
    spark.sql(s"DELETE FROM graft.`$src` WHERE o_orderpriority = '5-LOW'")
    spark.sql(s"UPDATE graft.`$src` SET o_totalprice = o_totalprice + 10 " +
      "WHERE o_orderstatus = 'O'")
    spark.sql(s"DROP TABLE IF EXISTS graft.`$mv`")
    spark.sql(s"CREATE TABLE graft.`$mv` (cohort BIGINT, n BIGINT, sum_price DOUBLE) " +
      "PARTITIONED BY (bucket(8, cohort))")
    val ins = col(CdcSchema.ChangeType).isin(CdcSchema.Adds: _*)
    val folded = spark.readStream.format("graft-buckets")
      .option("table", src).option("mode", "cdc").load()
      .groupBy((col("o_custkey") % 100).as("cohort"))
      .agg(
        org.apache.spark.sql.functions.sum(when(ins, 1L).otherwise(-1L)).as("n"),
        org.apache.spark.sql.functions.sum(
          when(ins, col("o_totalprice")).otherwise(-col("o_totalprice"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
    // update mode + keyed upsert: each epoch delivers ONLY the cohorts
    // whose aggregate changed, and the sink rewrites only the buckets
    // owning them (BucketStore.upsertRows; round-7 complete mode
    // truncate-republished the whole MV every epoch). At a
    // billion-group MV an epoch's cost is its churn, not the view.
    runStreamToTable(folded, s"graft.`$mv`", "update", Map("upsert" -> "true"))
    spark.table(s"graft.`$mv`").filter(col("n") > 0)
  }

  val cdcMaterializedViewSql: String =
    """SELECT o_custkey % 100 AS cohort, count(*) AS n,
      | CAST(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10
      |                    ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderpriority <> '5-LOW'
      |GROUP BY 1""".stripMargin

  /** q105 — clustered-index range scan: events loaded clustered on
    * `ts` (every bucket kept time-sorted), queried with a 2-day
    * window. The pushed range bounds reach the fetch as a
    * binary-searched slice of each bucket's sorted run
    * ([[ClusterRange.sliceSorted]]) — pages moved are proportional to
    * the window, not the table. At 100 TB this is how a time-series
    * store serves "last 2 days" without touching a month: hash
    * buckets spread the keys, the cluster order localizes the time
    * range WITHIN each bucket (zone-map/row-group pruning realized in
    * the store's own layout). ClusteredScanSpec pins the page-count
    * drop and the slice's appearance in the scan description; the
    * decimal sum keeps the float aggregate order-independent (so
    * aggregate pushdown correctly declines, and the row scan + slice
    * is the plan).
    */
  def clusteredRangeQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events_clust@$dir", dir, "events", "user_id", NumBuckets,
      clusterBy = Some("ts"))
    spark.read.format("graft-buckets").option("table", s"events_clust@$dir").load()
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-07 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val clusteredRangeSql: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-07 00:00:00'
      |GROUP BY event_type""".stripMargin

  /** q131 — COMPOUND clustered index: events kept lexicographically
    * sorted on (event_type, ts) within every bucket, queried with the
    * composite-index shape — equality on the leading column, a time
    * window on the second. [[ClusterRange.compoundFrom]] proves the
    * equality prefix plus the trailing range and the fetch binary-
    * searches ONE contiguous run per bucket: the 2-day click slice,
    * not the click partition and not the 2-day slice of every event
    * type — pages moved ∝ the conjunction's answer. At 100 TB this is
    * the (tenant, date) layout every multi-tenant time-series store
    * runs; CompoundClusterSpec pins the page counts and the prefix
    * rule (a bare `ts` predicate on this layout correctly refuses to
    * slice).
    */
  def compoundClusterQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events_comp@$dir", dir, "events", "user_id", NumBuckets,
      clusterBy = Some("event_type,ts"))
    spark.read.format("graft-buckets").option("table", s"events_comp@$dir").load()
      .filter(col("event_type") === "click" &&
        col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-07 00:00:00").cast("timestamp"))
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val compoundClusterSql: String =
    """SELECT user_id % 10 AS cohort, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE event_type = 'click'
      |  AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-07 00:00:00'
      |GROUP BY 1""".stripMargin

  /** q132 — Z-ORDER layout: events kept Morton-sorted on
    * `zorder(user_id, ts)` within every bucket, queried with a range
    * on the SECOND z-column alone. On the lexicographic
    * (user_id, ts) layout this predicate is useless — no equality
    * prefix, so no slice, and blocks sorted by a ~random leading
    * column span the whole time range. On the z-order layout the
    * curve keeps ts-locality regardless of position in the column
    * list, so the fetch-side block zone maps
    * ([[HostConnection.fetchBucket]], [[BucketSkip.blockProbe]])
    * skip the blocks outside the window — ZOrderSpec pins that skip
    * count against the lexicographic twin. This is OPTIMIZE ZORDER's
    * reason to exist: multi-column pruning without committing to one
    * prefix order. Correctness never depends on the layout (every
    * served row is filter-checked; the oracle is plain SQL).
    */
  def zorderSkipQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events_z@$dir", dir, "events", "user_id", NumBuckets,
      clusterBy = Some("zorder(user_id,ts)"))
    spark.read.format("graft-buckets").option("table", s"events_z@$dir").load()
      .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-12 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val zorderSkipSql: String =
    """SELECT event_type, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
      |GROUP BY event_type""".stripMargin

  /** q133 — REPLICATED dim table (reference C2 parity: replicated
    * tables are served as ONE split listing every server URL,
    * SnappyDataConnectorHelper.scala:199-213): nation is loaded with
    * `replicate = true` — one logical bucket materialized on every
    * host, so the scan plans a single partition whose preferred
    * locations are the whole fleet (any server answers), and the
    * table advertises NO bucket partitioning (it does not discriminate
    * anything). Joined as the dim side of the bucketed customer fact,
    * the planner sees the scan's real reported statistics (25 rows)
    * and broadcasts — the fact side never shuffles FOR THE JOIN
    * (ReplicatedTableSpec pins exactly one Exchange in the plan: the
    * groupBy's). At 100 TB this is the "replicate the dim everywhere,
    * join locally" layout every MPP store offers; on a real cluster
    * the single split reads whichever replica is co-located, moving
    * zero dim bytes.
    */
  def replicatedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"nation_repl@$dir", dir, "nation", "n_nationkey",
      numBuckets = 1, replicate = true)
    BucketStore.ensureLoaded(spark, s"customer@$dir", dir, "customer", "c_custkey", NumBuckets)
    val n = spark.read.format("graft-buckets").option("table", s"nation_repl@$dir").load()
    val c = spark.read.format("graft-buckets").option("table", s"customer@$dir").load()
    // no broadcast hint: the replicated scan's reported statistics make
    // the planner broadcast it on its own (the assertion-worthy part)
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_acctbal"))
  }

  val replicatedJoinSql: String =
    """SELECT n_name, count(*) AS n_customers,
      | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** q135 — the NARROW z-dimension prunes: same zorder(user_id, ts)
    * events table as q132, queried by a single user's id. user_id
    * spans a few thousand values; ts spans ~40 bits of microseconds —
    * under raw bit interleave ts owns the curve and a user_id
    * predicate touches every block. Rank normalization
    * ([[ZOrder.keyRanked]] — frozen equi-depth boundaries, every
    * dimension the same top-bit weight) restores the id's locality,
    * so the fetch-side zone maps skip the blocks outside the user's
    * rank slabs (ZOrderSpec pins the skip against a 48-bit-wide
    * partner). Together with q132 this is the z-order contract: ONE
    * layout, pruning on EITHER dimension — what no single-prefix
    * lexicographic sort can give. Correctness never depends on it;
    * the oracle is plain SQL.
    */
  def zorderNarrowDimQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"events_z@$dir", dir, "events", "user_id", NumBuckets,
      clusterBy = Some("zorder(user_id,ts)"))
    spark.read.format("graft-buckets").option("table", s"events_z@$dir").load()
      // a pushable range (zone maps prune on pushed comparisons, not
      // arbitrary expressions) over a thin id slice
      .filter(col("user_id") >= 10L && col("user_id") < 40L)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val zorderNarrowDimSql: String =
    """SELECT user_id, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id >= 10 AND user_id < 40
      |GROUP BY user_id""".stripMargin

  /** q145 — z-order BOUNDARY REFRESH end-to-end: the table commits
    * only a third of events (freezing rank boundaries on that
    * sample), the remaining two-thirds arrive as appends, and `CALL
    * graft.reorder` re-freezes the boundaries from the full data and
    * re-sorts every bucket. The gate is correctness THROUGH the
    * maintenance op — same rows as plain SQL over all of events — the
    * complement of ZOrderSpec's drift test, which pins that the
    * refresh re-tightens pruning. This is the z-layout's
    * `repartition_range` analog: layout maintenance a continuously
    * ingesting table schedules, never a correctness event.
    */
  def zorderReorderQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"events_zreorder@$dir"
    if (!BucketStore.exists(name)) {
      val ev = graft.tables.Tables.events(spark, dir)
      BucketStore.load(spark, name, ev.filter(col("event_id") % 3 =!= 0), "user_id",
        NumBuckets, clusterBy = Some("zorder(user_id,ts)"))
      ev.filter(col("event_id") % 3 === 0).writeTo(s"graft.`$name`").append()
      spark.sql(s"CALL graft.reorder('$name')").collect()
    }
    spark.read.format("graft-buckets").option("table", name).load()
      .filter(col("user_id") >= 5L && col("user_id") < 25L)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
  }

  val zorderReorderSql: String =
    """SELECT user_id, count(*) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id >= 5 AND user_id < 25
      |GROUP BY user_id""".stripMargin

  /** q106 — BOUNDED batch change read (the `table_changes` analog,
    * same window semantics as the stream's offsets): customer lands
    * in the store, a DELETE drops one segment, and a batch read of
    * the full change window (changesStart=0) folds to the final
    * per-segment counts — the deleted segment's inserts and deletes
    * cancel. This is the backfill path a downstream consumer uses to
    * (re)seed before tailing the stream: identical deltas, one
    * bounded job.
    */
  def cdcBatchChangesQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"customer_cdc@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.customer(spark, dir), "c_custkey",
      NumBuckets)
    spark.sql(s"DELETE FROM graft.`$name` WHERE c_mktsegment = 'AUTOMOBILE'")
    spark.read.format("graft-buckets")
      .option("table", name).option("mode", "cdc").option("changesStart", "0").load()
      .groupBy(col("c_mktsegment"))
      .agg(org.apache.spark.sql.functions.sum(
        when(col(CdcSchema.ChangeType).isin(CdcSchema.Adds: _*), 1L).otherwise(-1L)).as("n_net"))
  }

  val cdcBatchChangesSql: String =
    """SELECT c_mktsegment,
      | CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 0 ELSE count(*) END AS n_net
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** q107 — schema evolution end-to-end: customer lands in the store,
    * `ALTER TABLE ADD COLUMN vip` extends the schema with ZERO rewrite
    * (the new version shares every bucket array), an UPDATE back-fills
    * the flag for high-balance accounts (COW per bucket), and the
    * final read aggregates over both the padded legacy rows (NULL vip)
    * and the rewritten ones. At 100 TB: instant DDL, rewrite cost
    * proportional to the rows actually back-filled.
    */
  def schemaEvolutionQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"customer_evo@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.customer(spark, dir), "c_custkey",
      NumBuckets)
    spark.sql(s"ALTER TABLE graft.`$name` ADD COLUMN vip STRING")
    spark.sql(s"UPDATE graft.`$name` SET vip = 'Y' WHERE c_acctbal > 5000.0")
    spark.table(s"graft.`$name`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        count(col("vip")).as("n_vip"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  val schemaEvolutionSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      | count(CASE WHEN c_acctbal > 5000.0 THEN 1 END) AS n_vip,
      | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** q108 — SQL `MERGE INTO` end-to-end through the copy-on-write
    * row-level path ([[BucketedRowLevelOperationBuilder]]): customer
    * lands in the store, one MERGE applies matched UPDATEs (every 10th
    * key gets a new balance and segment; every 30th ALSO rewrites the
    * bucket key, so the row must MOVE to its new owning bucket) and
    * not-matched INSERTs (fresh keys beyond the key space), and the
    * final read aggregates the post-merge table per segment. At
    * 100 TB: the rewrite's scan prunes to the buckets owning matched
    * keys, commit replaces exactly those groups and appends the
    * inserts to theirs — cost ∝ touched buckets, not table size (the
    * Iceberg/Delta COW contract with the bucket as the file group).
    */
  def mergeIntoQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"customer_mrg@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.customer(spark, dir), "c_custkey",
      NumBuckets)
    val cust = graft.tables.Tables.customer(spark, dir)
    val src = cust.filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey").as("k"),
        (col("c_custkey") + when(col("c_custkey") % 30 === 3, lit(5000000L))
          .otherwise(lit(0L))).as("newkey"),
        (col("c_acctbal") + 1000.0).as("bal"))
      .unionByName(cust.filter(col("c_custkey") % 10 === 7)
        .select((col("c_custkey") + 10000000L).as("k"),
          (col("c_custkey") + 10000000L).as("newkey"),
          lit(555.0).as("bal")))
    src.createOrReplaceTempView("mrg_src")
    spark.sql(
      s"""MERGE INTO graft.`$name` t USING mrg_src s ON t.c_custkey = s.k
         |WHEN MATCHED THEN UPDATE SET
         |  t.c_custkey = s.newkey, t.c_acctbal = s.bal, t.c_mktsegment = 'MERGED_U'
         |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
         |  VALUES (s.newkey, 'merged-new', 0, s.bal, 'MERGED_I')""".stripMargin)
    spark.table(s"graft.`$name`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"),
        count(when(col("c_custkey") >= 5000000L, lit(1))).as("n_hi"))
  }

  /** q111 — CDC REPLICATION: the change feed driving a MERGE INTO a
    * replica table — the canonical downstream consumer the coalesced
    * update tags exist for. Customer loads a source table; the replica
    * is SEEDED from the initial-snapshot change window first, THEN the
    * source churns (DELETE one segment, COW UPDATE another, fresh
    * INSERTs) and the churn-only window is applied second — so the
    * MERGE's MATCHED paths really execute: COW updates hit existing
    * replica rows (MATCHED UPDATE) and removal deletes hit seeded rows
    * (MATCHED DELETE), not just NOT-MATCHED inserts into an empty
    * table. Each window is applied by ONE MERGE: add-tagged rows
    * (insert/update_postimage) upsert, while keys whose final event is
    * a remove-tag delete. The gated read aggregates the replica, which
    * must equal the source's final state — replication correctness,
    * not just feed correctness.
    *
    * At 100 TB: the window moves only churn; the MERGE's rewrite scan
    * prunes to the buckets owning changed keys (COW group replace).
    * The latest-event-per-key reduction runs ONE aggregate over the
    * delta (bucket key is unique here, so max(_commit_version) per key
    * plus the add/remove tag decides insert-vs-delete — a general
    * multiset consumer would fold counts instead, q102/q104/q106).
    */
  def cdcReplicationQuery(spark: SparkSession, dir: String): DataFrame = {
    val src = s"customer_rep@$dir"
    val rep = s"customer_rep_out@$dir"
    BucketStore.drop(src)
    BucketStore.load(spark, src, graft.tables.Tables.customer(spark, dir), "c_custkey",
      NumBuckets)
    val seedVersion = BucketStore.currentVersion(src)
    spark.sql(s"DROP TABLE IF EXISTS graft.`$rep`")
    spark.sql(s"CREATE TABLE graft.`$rep` (c_custkey BIGINT, c_name STRING, " +
      s"c_nationkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING) " +
      "PARTITIONED BY (bucket(16, c_custkey))")
    // ONE MERGE applies a bounded change window to the replica: the
    // latest event per key decides the row (key is unique) — an
    // add-tag wins as the new image, a remove-tag means delete
    def applyWindow(startV: Long, endV: Long): Unit = {
      val changes = spark.read.format("graft-buckets")
        .option("table", src).option("mode", "cdc")
        .option("changesStart", startV.toString)
        .option("changesEnd", endV.toString).load()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_custkey"))
        .orderBy(col(CdcSchema.CommitVersion).desc,
          // within one commit a coalesced pair shares the version: the
          // postimage (an add) outranks its preimage deterministically
          col(CdcSchema.ChangeType).isin(CdcSchema.Adds: _*).desc)
      val latest = changes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
      latest.createOrReplaceTempView("rep_changes")
      val removes = Seq(CdcSchema.Delete, CdcSchema.UpdatePre)
      spark.sql(
        s"""MERGE INTO graft.`$rep` t USING rep_changes s ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.${CdcSchema.ChangeType} IN (${removes
              .map("'" + _ + "'").mkString(", ")})
           |  THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  t.c_name = s.c_name, t.c_nationkey = s.c_nationkey,
           |  t.c_acctbal = s.c_acctbal, t.c_mktsegment = s.c_mktsegment
           |WHEN NOT MATCHED AND s.${CdcSchema.ChangeType} IN (${CdcSchema.Adds
              .map("'" + _ + "'").mkString(", ")})
           |  THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
           |  VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment)
           |""".stripMargin)
    }
    // phase 1: seed the replica from the initial-snapshot window
    // (every row arrives NOT MATCHED → insert)
    applyWindow(0L, seedVersion)
    // phase 2: churn the SOURCE, then replicate only the churn window —
    // now COW updates and removals hit seeded rows (MATCHED paths)
    spark.sql(s"DELETE FROM graft.`$src` WHERE c_mktsegment = 'MACHINERY'")
    spark.sql(s"UPDATE graft.`$src` SET c_acctbal = c_acctbal + 100.0 " +
      "WHERE c_mktsegment = 'BUILDING'")
    spark.sql(s"INSERT INTO graft.`$src` SELECT c_custkey + 20000000, c_name, " +
      s"c_nationkey, 777.0, 'REPLICATED' FROM graft.`$src` WHERE c_mktsegment = 'AUTOMOBILE'")
    applyWindow(seedVersion, BucketStore.currentVersion(src))
    spark.table(s"graft.`$rep`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  /** The replica must equal the source's final state, replayed in SQL. */
  val cdcReplicationSql: String =
    """WITH final_state AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_mktsegment
      |  FROM customer WHERE c_mktsegment <> 'MACHINERY'
      |  UNION ALL
      |  SELECT c_custkey + 20000000, 777.0, 'REPLICATED'
      |  FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |)
      |SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM final_state GROUP BY c_mktsegment""".stripMargin

  /** q123 — STREAMING CURATION into the store, exactly-once by
    * content: the documents stream normalizes ([[graft.functions
    * .NormalizeText]]), fingerprints the normalized bytes, gates on a
    * token-count quality floor, and lands in a bucket table KEYED BY
    * FINGERPRINT through the keyed-upsert sink — so re-ingesting the
    * same corpus (the stream is deliberately run TWICE over fresh
    * checkpoints) upserts the same keys and the final table is the
    * exactly-once curated set, not a doubled one. This is streaming
    * exact-dedup AS the sink contract: at 100 TB a re-crawled or
    * replayed batch costs one rewrite of the buckets owning its keys
    * and cannot duplicate content.
    *
    * The sink rows carry ONLY content-derived columns (fp, token
    * count) — deliberately no doc_id/lang: two documents with the
    * same normalized text share the key, and "latest wins" would then
    * keep whichever copy's row arrived last (micro-batch order =
    * nondeterministic). Content-derived payloads are identical across
    * copies, so the surviving row is the same no matter which copy
    * wins — the invariant that makes a content-keyed upsert table
    * deterministic, and the oracle is simply the DISTINCT normalized
    * set after the gate.
    */
  /** One curated-ingest pass of the documents stream into `tbl`
    * through the keyed-upsert streaming sink — shared by q123 (mod
    * layout) and q247 (HRW layout).
    */
  private def curatedIngestOnce(spark: SparkSession, dir: String, tbl: String): Unit = {
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    val curated = spark.readStream.schema(docSchema)
      .parquet(s"$dir/{documents.parquet}")
      .withColumn("norm", graft.functions.NormalizeText(col("text")))
      .withColumn("fp", graft.functions.Fingerprint64(col("norm")))
      .withColumn("n_tokens", size(split(col("norm"), " ")).cast("long"))
      .filter(col("n_tokens") >= 5)
      .select(col("fp"), col("n_tokens"))
    runStreamToTable(curated, s"graft.`$tbl`", "append", Map("upsert" -> "true"))
  }

  def streamCurationQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = s"docs_curated@$dir"
    spark.sql(s"DROP TABLE IF EXISTS graft.`$tbl`")
    spark.sql(s"CREATE TABLE graft.`$tbl` (fp BIGINT, n_tokens BIGINT) " +
      "PARTITIONED BY (bucket(16, fp))")
    curatedIngestOnce(spark, dir, tbl)
    curatedIngestOnce(spark, dir, tbl) // replayed corpus: same keys upsert, nothing doubles
    spark.table(s"graft.`$tbl`")
  }

  /** q247 — q123's streaming curation sink INTO A RENDEZVOUS (HRW)
    * table: the empty table converts to HRW placement BEFORE the
    * stream starts, then the same two ingest passes (the second a
    * full replay over a fresh checkpoint) run through the streaming
    * writer. This pins that `routeBucket` really is the single
    * routing choke point under the STREAMING write path too — the
    * writer's epoch-guarded commit routes every upsert key by argmax
    * instead of pmod, replay still collapses to the exactly-once
    * curated set, and the layout survives (spec pins per-row HRW
    * ownership + restart recovery; the oracle sees identical content
    * to q123, which is the point — placement is physical, not
    * semantic).
    */
  def streamCurationHrwQuery(spark: SparkSession, dir: String): DataFrame = {
    val tbl = s"docs_curated_hrw@$dir"
    spark.sql(s"DROP TABLE IF EXISTS graft.`$tbl`")
    spark.sql(s"CREATE TABLE graft.`$tbl` (fp BIGINT, n_tokens BIGINT) " +
      "PARTITIONED BY (bucket(16, fp))")
    spark.sql(s"CALL graft.rebucket_hrw('$tbl', 16)") // rendezvous, converted empty
    curatedIngestOnce(spark, dir, tbl)
    curatedIngestOnce(spark, dir, tbl)
    spark.table(s"graft.`$tbl`")
  }

  /** Oracle: q123's — content is layout-invariant. (`def`: the
    * referenced val is initialized later in this object.)
    */
  def streamCurationHrwSql: String = streamCurationSql

  /** One row per DISTINCT normalized content (the content-keyed table's
    * exact contract — duplicate texts collapse on both engines).
    */
  val streamCurationSql: String =
    """WITH n AS (
      |  SELECT DISTINCT
      |    trim(regexp_replace(lower(nfc_normalize(text)), '[ \t\n\r\f]+', ' ', 'g')) AS norm
      |  FROM documents),
      |t AS (
      |  SELECT
      |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
      |    list_reduce(list_prepend(0::HUGEINT,
      |      list_transform(range(octet_length(encode(norm))),
      |        i -> CAST(CAST(('0x' || substr(hex(encode(norm)), 2*i::INT + 1, 2)) AS INT) AS HUGEINT))),
      |      (a, b) -> (a * 257 + b) % 18446744073709551616::HUGEINT) AS fp
      |  FROM n)
      |SELECT CAST(CASE WHEN fp > 9223372036854775807::HUGEINT
      |            THEN fp - 18446744073709551616::HUGEINT ELSE fp END AS BIGINT) AS fp,
      |       n_tokens
      |FROM t WHERE n_tokens >= 5""".stripMargin

  /** q109 — `CALL graft.rebucket` end-to-end: orders lands at 16
    * buckets, the procedure re-hashes it into 4 under one MVCC version,
    * and the gated read aggregates THROUGH the new layout (plus DML
    * after the boundary, proving the new layout is fully operational).
    * The oracle sees only the final state — identical rows, different
    * physical layout. At 100 TB: the one-off full shuffle that fixes an
    * outgrown layout, under MVCC so concurrent reads never block.
    */
  def rebucketQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_reb@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.orders(spark, dir), "o_orderkey",
      NumBuckets)
    spark.sql(s"CALL graft.rebucket('$name', 4)")
    // post-rebucket DML exercises the new layout's write path
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '1-URGENT'")
    spark.table(s"graft.`$name`")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val rebucketSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderpriority <> '1-URGENT'
      |GROUP BY o_orderpriority""".stripMargin

  /** q232 — `CALL graft.rebucket_hrw` end-to-end: orders converts to a
    * RENDEZVOUS layout, then resizes 8 → 10 under minimal movement
    * (only rows whose HRW winner is a new bucket rewrite — the q229
    * analysis as store behavior, invariants spec-pinned in
    * RebucketHrwSpec), then DML and an aggregate run THROUGH the HRW
    * layout, proving reads, point-lookup pruning, and the write path
    * all follow the argmax placement. The oracle sees only the final
    * state — identical rows, rendezvous physics. At 100 TB this is
    * the resize that does NOT rewrite the table: ~1 − n/m of rows
    * move (all into the new buckets) instead of mod-rehash's ~1 − 1/m
    * of everything.
    */
  def rebucketHrwQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_hrw@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.orders(spark, dir), "o_orderkey", 8)
    spark.sql(s"CALL graft.rebucket_hrw('$name', 8)")  // mod -> HRW conversion
    spark.sql(s"CALL graft.rebucket_hrw('$name', 10)") // minimal-movement grow
    // post-resize DML exercises the HRW write path
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '5-LOW'")
    spark.table(s"graft.`$name`")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val rebucketHrwSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderpriority <> '5-LOW'
      |GROUP BY o_orderpriority""".stripMargin

  /** q243 — STRING bucket keys through BOTH layouts: `documents`
    * keyed by a derived URL-shaped string (`source/lang/doc_id` — the
    * key shape a 100 TB web corpus actually routes on), loaded through
    * the mod-hash layout (Murmur3 seed-42 over the key's UTF-8 bytes,
    * exactly Spark's own `hash()` of a StringType column —
    * [[BucketFunction.keyHash32]]), converted to RENDEZVOUS placement
    * (`CALL graft.rebucket_hrw` — same key domain, argmax instead of
    * pmod), DML'd through the HRW write path, and aggregated. The
    * oracle sees only final rows; the routing/pruning physics —
    * point lookups on the string key planning ONE bucket under both
    * layouts, zero illegal moves on the HRW grow — are pinned in
    * RebucketHrwSpec. Before round 15 only integral keys routed;
    * URL/content-hash keyed corpora could not bucket at all.
    */
  def stringKeyQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"docs_strkey@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.documents(spark, dir)
        .withColumn("doc_url",
          concat_ws("/", col("source"), col("lang"), col("doc_id")))
        .select(col("doc_url"), col("lang"), col("source"), col("n_chars")),
      "doc_url", 8)
    spark.sql(s"CALL graft.rebucket_hrw('$name', 8)")  // mod -> HRW, string domain
    // DML routes string keys through the HRW writer
    spark.sql(s"DELETE FROM graft.`$name` WHERE source = 'web' AND n_chars < 200")
    spark.table(s"graft.`$name`")
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("n_chars")).as("sum_chars"))
  }

  val stringKeySql: String =
    """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE NOT (source = 'web' AND n_chars < 200)
      |GROUP BY lang, source""".stripMargin

  /** q233 — AUTO-COMPACTION under continuous DML, end-to-end: lineitem
    * serves as a merge-on-read table taking three DML batches. Batch 1
    * (~2% of rows) stays under the policy floor and leaves pending
    * MoR state; batch 2 (~18%) pushes pending past BOTH knobs
    * (`autoCompactMinRows`, `autoCompactRatioPct`) so the commit
    * folds the table down IN THE SAME STATEMENT — no `CALL compact`
    * anywhere in this query; batch 3 then writes through the freshly
    * folded base, proving maintenance is invisible to the DML stream.
    * The gated aggregate reads the final state; AutoCompactGateSpec
    * pins the mechanics (mor non-empty after batch 1, EMPTY after
    * batch 2, fold published as its own version). At 100 TB this is
    * the difference between read amplification bounded by a constant
    * and every scan folding an unbounded delta history.
    */
  def autoCompactIngestQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_autoc@$dir"
    BucketStore.drop(name)
    // first line per order (~1/4 of lineitem): the policy is
    // RATIO-based, so the gate's below-then-above trajectory is
    // identical at any base size — no reason to DML the whole table
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag")),
      "l_orderkey", 8)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    spark.sql(s"UPDATE graft.`$name` SET l_quantity = l_quantity + 100 WHERE l_quantity = 1")
    spark.sql(s"UPDATE graft.`$name` SET l_quantity = l_quantity + 100 WHERE l_quantity <= 10")
    spark.sql(s"DELETE FROM graft.`$name` WHERE l_returnflag = 'R'")
    spark.table(s"graft.`$name`")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_qty"))
  }

  /** Oracle: replay the two updates (a row bumped by batch 1 is > 10
    * by batch 2, so no row bumps twice) and the delete on the raw
    * table.
    */
  val autoCompactIngestSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(CASE WHEN l_quantity <= 10 THEN l_quantity + 100
      |                     ELSE l_quantity END AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_returnflag <> 'R' AND l_linenumber = 1
      |GROUP BY l_returnflag""".stripMargin

  /** q117 — data-skipping point lookup on a NON-key column: c_name is
    * unique but the table is bucketed by c_custkey, so key-equality
    * pruning cannot help — the per-bucket membership sketch
    * ([[BucketSkip]]) answers which buckets can possibly hold each
    * name and the scan opens only those readers (BucketSkipSpec pins
    * the reader count; this entry gates the ANSWER). At 100 TB this is
    * the difference between a point lookup touching ~1 server and a
    * full-cluster scan, on any high-cardinality column, with no
    * secondary index to maintain — the sketches ride the COW bucket
    * arrays.
    */
  def skipLookupQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"customer@$dir", dir, "customer", "c_custkey", NumBuckets)
    spark.read.format("graft-buckets").option("table", s"customer@$dir").load()
      .filter(col("c_name").isin("Customer#000000042", "Customer#000000007"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
  }

  val skipLookupSql: String =
    """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE c_name IN ('Customer#000000042', 'Customer#000000007')""".stripMargin

  /** q118 — pushed TABLESAMPLE: the `TABLESAMPLE (10 PERCENT)` clause
    * reaches the bucket readers ([[SampleSpec]]) as a deterministic
    * Lehmer-hash window over the bucket key, so rows outside the
    * sample never cross to Spark and the SAME sample re-materializes
    * on every run, partitioning, and engine — the reproducibility a
    * curation pipeline needs from its corpus subsampling, and the
    * reason the DuckDB oracle can replay the sample row-for-row
    * (seeded RNG sampling could only be rows-only checked). The
    * aggregate above stays Spark-side by design: sample and aggregate
    * pushdown are mutually exclusive so the composition is always
    * explicit ([[BucketedScanBuilder.pushTableSample]]).
    */
  def sampleScanQuery(spark: SparkSession, dir: String): DataFrame = {
    BucketStore.ensureLoaded(spark, s"orders@$dir", dir, "orders", "o_orderkey", NumBuckets)
    spark.sql(
      s"""SELECT o_orderpriority, count(*) AS n,
         | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         |FROM graft.`orders@$dir` TABLESAMPLE (10 PERCENT)
         |GROUP BY o_orderpriority""".stripMargin)
  }

  /** Both window bounds are load-bearing: `%` follows the dividend's
    * sign on every engine, so a negative key hashes negative and only
    * the `>= 0` term excludes it — exactly what the reader's
    * [[SampleSpec.keep]] does.
    */
  val sampleScanSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE (((o_orderkey % 2147483647) * 48271) % 2147483647 * 48271) % 2147483647
      |      >= 0 * 2147483647
      |  AND (((o_orderkey % 2147483647) * 48271) % 2147483647 * 48271) % 2147483647
      |      < 0.1 * 2147483647
      |GROUP BY o_orderpriority""".stripMargin

  /** q119 — RANGE bucket layout end-to-end: orders switches to a
    * range layout on its key (`CALL graft.repartition_range`), takes
    * row-level DML THROUGH the new layout (a DELETE and a COW UPDATE
    * whose rewrite routes by boundary), and the gated read is a key
    * RANGE window — the predicate that hash layouts structurally
    * cannot prune and this layout serves from the owning buckets only
    * (zone maps see disjoint min/max; RangeLayoutSpec pins the planned
    * partition counts and the routing invariant). At 100 TB this is
    * the time-series layout: partition pruning ∝ answer across
    * buckets, binary-searched slices within them.
    */
  def rangeLayoutQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_rng@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.orders(spark, dir), "o_orderkey",
      NumBuckets)
    spark.sql(s"CALL graft.repartition_range('$name', 8)")
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderpriority = '5-LOW'")
    spark.sql(s"UPDATE graft.`$name` SET o_totalprice = o_totalprice + 10.0 " +
      "WHERE o_orderkey BETWEEN 100 AND 200")
    spark.table(s"graft.`$name`")
      .filter(col("o_orderkey").between(50L, 500L))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val rangeLayoutSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(CASE WHEN o_orderkey BETWEEN 100 AND 200
      |                    THEN o_totalprice + 10.0 ELSE o_totalprice END
      |               AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderpriority <> '5-LOW' AND o_orderkey BETWEEN 50 AND 500
      |GROUP BY o_orderpriority""".stripMargin

  /** q248 — STATISTICS-DRIVEN RETENTION DELETE (metadata delete):
    * orders keyed by o_orderdate onto a RANGE layout, then
    * `DELETE … WHERE o_orderdate < DATE '1998-01-01'` — the store
    * classifies every bucket against the same commit-time zone maps
    * the scan prunes with ([[BucketStore.deleteWhereFiltered]]):
    * buckets provably inside the cutoff drop WHOLE with no row read
    * (the next manifest simply stops referencing their files), buckets
    * provably outside keep their array/file BY IDENTITY, and only the
    * one boundary bucket pays a row scan. The query self-audits the
    * classification shape; MetadataDeleteSpec pins identity, the
    * zero-evaluation claim, and the merge-on-read variant. At 100 TB
    * this is THE daily DML — ageing a retention window out of years of
    * history as a manifest edit instead of a table rewrite.
    */
  def retentionDeleteQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_retn@$dir"
    BucketStore.drop(name)
    // the raw column is a timestamp; the bucket key domain routes
    // DATES (epoch days) — cast at ingest. `date(ts) < D ⇔ ts < D`
    // (midnight), so the DuckDB oracle keeps the raw predicate.
    BucketStore.load(spark, name,
      graft.tables.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"), col("o_totalprice")),
      "o_orderdate", NumBuckets)
    // analyze FIRST: the layout publish then writes o_orderdate zone
    // maps into the version's manifest, so the DELETE classifies from
    // commit metadata without touching a block
    spark.sql(s"CALL graft.analyze('$name', 'o_orderdate')")
    spark.sql(s"CALL graft.repartition_range('$name', 8)")
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderdate < DATE '1998-01-01'")
    val out = BucketStore.lastDeleteOutcome(name).getOrElse(
      sys.error(s"DELETE on '$name' did not take the statistics-driven path"))
    require(out.droppedBuckets >= 1 && out.untouchedBuckets >= 1 && out.scannedBuckets <= 1,
      s"range layout should classify all but the boundary bucket: $out")
    spark.table(s"graft.`$name`")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("rev"))
  }

  val retentionDeleteSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |FROM orders WHERE o_orderdate >= DATE '1998-01-01'
      |GROUP BY 1""".stripMargin

  /** q249 — OPTIMISTIC CONCURRENCY for copy-on-write rewrites, through
    * the real SQL path: two UPDATE statements each take a concurrent
    * commit landing in the scan-done-commit-pending window (injected
    * deterministically via [[BucketStore.onRowLevelScanPinned]]).
    * The DISJOINT interleave (the concurrent DELETE rewrote a bucket
    * outside the UPDATE's groups) commits cleanly — an automatic
    * rebase, both effects present; the SAME-BUCKET interleave would
    * silently undo the concurrent delete (lost update), so the commit
    * fails with [[BucketStore.ConcurrentWriteException]] and the
    * retried statement lands. Before this check, the second shape was
    * a silent lost update. ConcurrentWriteSpec pins the store-level
    * matrix (vacuumed read version, MoR delta composition,
    * same-position conflicts); the gated read is the net state —
    * every effect applied exactly once. The bucket is the conflict
    * granule, exactly Delta/Iceberg's file-level conflict detection.
    */
  def concurrentRewriteQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.sources.EqualTo
    val name = s"cust_ccr@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", 8)
    // routing assumptions behind the hardcoded keys (Murmur3 seed 42):
    // 1 and 2 land in DIFFERENT buckets; 3 and 7 land in the SAME one
    def bkt(k: Long) = BucketFunction.bucketFor(k, 8).get
    require(bkt(1L) != bkt(2L) && bkt(3L) == bkt(7L),
      s"routing drift: ${Seq(1L, 2L, 3L, 7L).map(k => k -> bkt(k))}")

    // disjoint interleave: DELETE key 2 (bucket ${bkt(2)}) lands while
    // UPDATE key 1 (bucket ${bkt(1)}) is between scan and commit
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      BucketStore.deleteWhereFiltered(name, Array(EqualTo("c_custkey", 2L)))
      ()
    })
    spark.sql(s"UPDATE graft.`$name` SET c_acctbal = c_acctbal + 100 WHERE c_custkey = 1")
    require(BucketStore.onRowLevelScanPinned.isEmpty, "interleave hook never fired")

    // same-bucket interleave: DELETE key 7 lands inside UPDATE key 3's
    // window — the commit MUST refuse (it would undo the delete)
    BucketStore.onRowLevelScanPinned = Some((_, _) => {
      BucketStore.deleteWhereFiltered(name, Array(EqualTo("c_custkey", 7L)))
      ()
    })
    val update3 = s"UPDATE graft.`$name` SET c_acctbal = c_acctbal + 100 WHERE c_custkey = 3"
    val conflicted =
      try { spark.sql(update3); false }
      catch { case NonFatal(e) if isWriteConflict(e) => true }
    require(conflicted, "a same-bucket interleave must fail the statement, not lose the update")
    spark.sql(update3) // retry re-plans against the current snapshot and lands

    spark.table(s"graft.`$name`")
      .filter(col("c_custkey") <= 12)
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("double").as("bal"))
  }

  val concurrentRewriteSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(c_acctbal + CASE WHEN c_custkey IN (1, 3) THEN 100 ELSE 0 END AS DOUBLE) AS bal
      |FROM customer
      |WHERE c_custkey <= 12 AND c_custkey NOT IN (2, 7)""".stripMargin

  /** q250 — WRITE-AUDIT-PUBLISH over a store BRANCH, the quality-gated
    * ingestion pattern every production curation pipeline runs (Iceberg
    * WAP): `CALL graft.branch` forks the corpus head ZERO-COPY (one
    * manifest write — every bucket re-references its file), the new
    * crawl batch lands on the branch through the ordinary write path,
    * the audit (a pushed quality DELETE, classified from zone maps like
    * any table) runs against the branch while main serves untouched
    * (the query requires main's count unchanged mid-flight), and
    * `CALL graft.publish_branch` atomically fast-forwards main to the
    * audited head. The second leg races a main commit into the window:
    * fast-forward REFUSES (ConcurrentWriteException — publishing would
    * discard main's commit) and `drop_branch` abandons the batch with
    * its files GC'd. WapBranchSpec pins zero-copy fork identity,
    * two-way isolation, restart durability of an open branch, and GC
    * safety. At 100 TB this is how a daily crawl lands: audited out of
    * band, published as one O(1) pointer swap, never half-visible.
    */
  def wapCurationQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"docs_wap@$dir"
    BucketStore.drop(name)
    val docs = graft.tables.Tables.documents(spark, dir)
    BucketStore.load(spark, name, docs.filter(col("doc_id") % 3 =!= 0), "doc_id", NumBuckets)
    val mainBefore = spark.table(s"graft.`$name`").count()

    spark.sql(s"CALL graft.branch('$name', 'staging')")
    val bname = BucketStore.branchName(name, "staging")
    docs.filter(col("doc_id") % 3 === 0).writeTo(s"graft.`$bname`").append()
    require(spark.table(s"graft.`$name`").count() == mainBefore,
      "main must not see the staged batch before publish")
    // the audit: quality-gate THE BATCH on the branch (scoped to the
    // staged rows — already-curated corpus rows are not re-audited)
    spark.sql(s"DELETE FROM graft.`$bname` WHERE n_chars < 200 AND doc_id % 3 = 0")
    spark.sql(s"CALL graft.publish_branch('$name', 'staging')")
    require(BucketStore.branchesOf(name).isEmpty, "publish must retire the branch")

    // leg 2: main moves between fork and publish — fast-forward refuses
    spark.sql(s"CALL graft.branch('$name', 'late')")
    val lname = BucketStore.branchName(name, "late")
    docs.filter(col("doc_id") % 3 === 0).limit(5).writeTo(s"graft.`$lname`").append()
    spark.sql(s"DELETE FROM graft.`$name` WHERE doc_id = 1") // main commit lands
    val conflicted =
      try { spark.sql(s"CALL graft.publish_branch('$name', 'late')"); false }
      catch { case NonFatal(e) if isWriteConflict(e) => true }
    require(conflicted, "publishing a branch after main moved must refuse, not discard")
    spark.sql(s"CALL graft.drop_branch('$name', 'late')")

    spark.table(s"graft.`$name`")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("n_chars")).as("sum_chars"))
  }

  val wapCurationSql: String =
    """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE (doc_id % 3 <> 0 OR n_chars >= 200) AND doc_id <> 1
      |GROUP BY lang, source""".stripMargin

  /** q251 — SNAPSHOT ROLLBACK, the no-branch recovery move: a
    * fat-finger batch (a corrupting UPDATE and a DELETE) lands
    * directly on main, `CALL graft.rollback(t, v_good)` reinstates the
    * pre-batch snapshot as the new head in ONE zero-copy publish
    * (RollbackSpec pins bucket identity, the CDC inverse deltas, the
    * layout-epoch bump across a rebucket, and the not-retained
    * refusal), and ordinary DML continues on the restored head. The
    * bad versions stay retained — history is append-only, so the
    * incident remains auditable and CDC-diffable. At 100 TB this is
    * the difference between un-landing a bad day in O(manifest) and
    * re-ingesting the table.
    */
  def rollbackQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"cust_rb@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", 8)
    val good = BucketStore.currentVersion(name)
    val rowsBefore = spark.table(s"graft.`$name`").count()
    // the bad batch: a corrupting UPDATE and an over-broad DELETE
    spark.sql(s"UPDATE graft.`$name` SET c_acctbal = 0 WHERE c_custkey % 2 = 0")
    spark.sql(s"DELETE FROM graft.`$name` WHERE c_mktsegment = 'BUILDING'")
    require(spark.table(s"graft.`$name`").count() < rowsBefore, "the bad batch must land")
    spark.sql(s"CALL graft.rollback('$name', $good)")
    require(spark.table(s"graft.`$name`").count() == rowsBefore,
      "rollback must reinstate the pre-batch row set")
    // life goes on: ordinary DML against the restored head
    spark.sql(s"UPDATE graft.`$name` SET c_acctbal = c_acctbal + 50 WHERE c_custkey = 10")
    spark.table(s"graft.`$name`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  val rollbackSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal + CASE WHEN c_custkey = 10 THEN 50 ELSE 0 END
      |            AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** q252 — BRANCH REBASE closing the WAP loop: main commits while the
    * audit batch sits on the branch, publish refuses (it would discard
    * main's commit), and `CALL graft.rebase_branch` replays the branch
    * for FREE — the rebased head is main's current blocks with the
    * branch's changed buckets swapped in (one zero-copy publish,
    * disjoint buckets proven by the same `bucketUnchanged` identity
    * probe the conflict detector uses), the fork point advances, and
    * the publish then fast-forwards. Overlapping buckets stay a loud
    * conflict (WapBranchSpec pins both paths and the identity claims).
    * At 100 TB this is what keeps a long-running audit from blocking
    * the table: daily commits land on main, the staged batch rebases
    * in O(buckets) identity probes, nothing replays.
    */
  def branchRebaseQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"part_rbs@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice")),
      "p_partkey", 8)
    def bkt(k: Long) = BucketFunction.bucketFor(k, 8).get
    require(bkt(1L) != bkt(2L), "routing drift: keys 1 and 2 must land in different buckets")

    spark.sql(s"CALL graft.branch('$name', 'fix')")
    spark.sql(s"UPDATE graft.`$name#fix` SET p_retailprice = p_retailprice + 10 " +
      "WHERE p_partkey = 1")
    spark.sql(s"DELETE FROM graft.`$name` WHERE p_partkey = 2") // main moves, disjoint
    val conflicted =
      try { spark.sql(s"CALL graft.publish_branch('$name', 'fix')"); false }
      catch { case NonFatal(e) if isWriteConflict(e) => true }
    require(conflicted, "publish after main moved must refuse before the rebase")
    spark.sql(s"CALL graft.rebase_branch('$name', 'fix')")
    spark.sql(s"CALL graft.publish_branch('$name', 'fix')") // now fast-forwards
    require(BucketStore.branchesOf(name).isEmpty, "publish must retire the branch")

    spark.table(s"graft.`$name`")
      .filter(col("p_partkey") <= 12)
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice").cast("double").as("price"))
  }

  val branchRebaseSql: String =
    """SELECT p_partkey, p_brand,
      |  CAST(p_retailprice + CASE WHEN p_partkey = 1 THEN 10 ELSE 0 END AS DOUBLE) AS price
      |FROM part WHERE p_partkey <= 12 AND p_partkey <> 2""".stripMargin

  /** q253 — the REPRODUCIBLE TRAINING RECIPE, the data-versioning
    * capstone an LLM team actually needs from a lakehouse: "the exact
    * data of run X" is (pinned store version, deterministic sampler,
    * packing spec) — all three already engine primitives (MVCC
    * `VERSION AS OF`, the Lehmer sample window with its plain-SQL
    * replica, q77's one-window sequence packing). The gate pins the
    * corpus version, lets ingest CONTINUE (a real append lands
    * mid-flight), and self-audits that re-materializing the recipe
    * before and after the append is row-identical (`exceptAll` both
    * ways) — training data that cannot drift under a live corpus. At
    * 100 TB nothing is copied: the recipe is a manifest pointer + two
    * row-local predicates + one window, re-derivable years later while
    * the version stays retained.
    */
  def trainingRecipeQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"docs_recipe@$dir"
    BucketStore.drop(name)
    val docs = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    BucketStore.load(spark, name, docs.filter(col("doc_id") % 3 =!= 0), "doc_id", NumBuckets)
    val runV = BucketStore.currentVersion(name)

    def recipe(): DataFrame = {
      val pinned = spark.read.format("graft-buckets")
        .option("table", name).option("versionasof", runV.toString).load()
      val lehmer =
        expr("(((doc_id % 2147483647) * 48271) % 2147483647 * 48271) % 2147483647")
      val sampled = pinned.filter(lehmer >= lit(0L) && lehmer < lit(0.5 * 2147483647))
      graft.operators.Pipelines.sequencePack(sampled, "doc_id", "source", "text", 2048)
    }

    val before = recipe().cache()
    require(before.count() > 0, "the pinned recipe must select rows")
    // ingest continues — the recipe must not move
    docs.filter(col("doc_id") % 3 === 0).writeTo(s"graft.`$name`").append()
    val after = recipe()
    require(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "the recipe re-materialized differently after an append — data drifted")
    before.unpersist()
    after
  }

  val trainingRecipeSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  WHERE doc_id % 3 <> 0
      |    AND (((doc_id % 2147483647) * 48271) % 2147483647 * 48271) % 2147483647 >= 0
      |    AND (((doc_id % 2147483647) * 48271) % 2147483647 * 48271) % 2147483647
      |        < 0.5 * 2147483647
      |)
      |SELECT doc_id, source,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
      |             OVER (PARTITION BY source ORDER BY doc_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    // 2048 AS BIGINT) AS pack_id
      |FROM corpus""".stripMargin

  /** q254 — STATS-ONLY AGGREGATE: unfiltered global COUNT/COUNT(c)/
    * MIN/MAX are answered from commit-time zone maps without opening a
    * single bucket ([[BucketedAggPartitionReader]] statsServed path) —
    * the gate loads lineitem, analyzes the columns, UNLOADS and
    * REOPENS the table (every block evicted, stats served from the
    * manifest), runs the aggregate through the SQL pushdown path, and
    * self-audits that every partial was stats-served and ZERO blocks
    * loaded. At 100 TB this is `SELECT min(ts), max(ts), count(*)`
    * on a cold table answered in O(manifest) — the Iceberg stats-only
    * query, with bit-identical answers to the row scan (stats are
    * built in scan order under the same comparator, so ties resolve
    * identically).
    */
  def statsOnlyAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_stats@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
      "l_orderkey", NumBuckets)
    spark.sql(s"CALL graft.analyze('$name', 'l_orderkey,l_quantity,l_extendedprice')")
    // restart: the reopened table is fully evicted; stats come from
    // the manifest alone
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    val before = BucketedAggPartitionReader.statsServedCount.get()
    val rows = spark.sql(
      s"""SELECT count(*) AS n_star, count(l_quantity) AS n_qty,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
         |  max(l_orderkey) AS max_key
         |FROM graft.`$name`""".stripMargin).collect()
    val served = BucketedAggPartitionReader.statsServedCount.get() - before
    require(served == NumBuckets.toLong,
      s"every partial must be stats-served ($served of $NumBuckets were)")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a stats-only aggregate must not load a single block")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      rows.head.schema)
  }

  val statsOnlyAggSql: String =
    """SELECT count(*) AS n_star, count(l_quantity) AS n_qty,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
      |  max(l_orderkey) AS max_key
      |FROM lineitem""".stripMargin

  /** q255 — IDEMPOTENT BATCH APPENDS (the Delta txn contract): a
    * write tagged `txnappid`/`txnversion` records its high-water mark
    * in the commit — and in every manifest, so it survives a restart —
    * and a RETRY of an already-committed batch publishes NOTHING. The
    * gate ingests two batches under app id 'ingest', re-submits batch
    * 1 verbatim (the failed-driver retry) and an older version number,
    * and requires both replays left no new version and no new rows;
    * IdempotentWriteSpec pins restart durability, per-app independence,
    * the upsert and STREAMING variants (epoch = version: re-running a
    * whole query over the same source dedupes), and the loud option
    * errors. At 100 TB this is what makes ingest retry-safe without an
    * external coordinator: the job just runs again.
    */
  def idempotentAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"ord_txn@$dir"
    BucketStore.drop(name)
    val orders = graft.tables.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    BucketStore.load(spark, name, orders.filter(col("o_orderkey") % 2 === 0),
      "o_orderkey", NumBuckets)
    def append(batch: DataFrame, v: Long): Unit =
      batch.writeTo(s"graft.`$name`")
        .option("txnappid", "ingest").option("txnversion", v.toString).append()
    val b1 = orders.filter(col("o_orderkey") % 4 === 1)
    val b2 = orders.filter(col("o_orderkey") % 4 === 3)
    append(b1, 1L)
    val vAfter = BucketStore.currentVersion(name)
    val nAfter = spark.table(s"graft.`$name`").count()
    append(b1, 1L) // the failed-driver retry: MUST be a no-op
    append(b1, 0L) // a stale lower version: also a no-op
    require(BucketStore.currentVersion(name) == vAfter &&
      spark.table(s"graft.`$name`").count() == nAfter,
      "a replayed txn batch must publish nothing")
    append(b2, 2L) // the next batch applies normally
    spark.table(s"graft.`$name`")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val idempotentAppendSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** q256 — BRANCH-AWARE RETENTION GC ACROSS A RESTART, the classic
    * lakehouse data-loss scenario gated end-to-end: a WAP branch forks
    * the corpus (zero-copy — the branch references the base's files),
    * takes a commit of its own, then the process "restarts" reopening
    * ONLY the base, main takes further commits, and its history is
    * vacuumed to the head — which garbage-collects every file and
    * manifest no retained lineage references. GC roots are the union
    * of loaded lineages' retained windows AND every on-disk manifest
    * of lineages NOT loaded (the round-16 fix — before it, the
    * un-reopened branch's manifests were swept as unreferenced files
    * and the fork-shared base files it pinned went with them; the
    * same roots guard publish-time retention GC, spec-pinned by
    * ConditionalCommitSpec's 36-publish crossing). The gate
    * self-audits both directions: main's on-disk manifest history IS
    * trimmed to exactly the vacuumed head (GC really ran), the
    * branch's manifests survive, and BOTH lineages then reopen and
    * read hash-identically against the oracle. At 100 TB this is what
    * lets audit branches outlive maintenance windows and process
    * restarts without pinning — or losing — a single file they share
    * with main.
    */
  def branchGcRestartQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"cust_bgc@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", 8)
    spark.sql(s"CALL graft.branch('$name', 'audit')")
    val bname = BucketStore.branchName(name, "audit")
    spark.sql(s"DELETE FROM graft.`$bname` WHERE c_custkey = 5") // the branch owns a commit
    // "restart" that reopens ONLY the base lineage
    BucketStore.unload(bname)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    // main moves on after the reopen…
    (1 to 4).foreach { _ =>
      spark.sql(s"UPDATE graft.`$name` SET c_acctbal = c_acctbal + 1 WHERE c_custkey = 1")
    }
    // …and is vacuumed to the head: the trim GCs everything no
    // retained lineage references — the dormant branch must count
    spark.sql(s"CALL graft.vacuum('$name', 1)")
    val manifests = FileStore.readManifests(tdir)
    require(manifests.count(_.name == name) == 1,
      "vacuum(1) must trim main's on-disk manifest history to exactly the head")
    require(manifests.exists(_.name == bname),
      "the un-reopened branch's manifests must survive the vacuum GC")
    // the branch reopens from the survived manifests and reads exactly
    BucketStore.openFromDisk(bname, tdir)
    def aggOf(table: String, tag: String): DataFrame =
      spark.table(s"graft.`$table`").agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
        .select(lit(tag).as("lineage"), col("n"), col("sum_bal"))
    aggOf(name, "main").unionAll(aggOf(bname, "branch"))
  }

  val branchGcRestartSql: String =
    s"""SELECT 'main' AS lineage, count(*) AS n,
       |  CAST(sum(CAST(c_acctbal + CASE WHEN c_custkey = 1
       |    THEN 4 ELSE 0 END
       |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
       |FROM customer
       |UNION ALL
       |SELECT 'branch' AS lineage, count(*) AS n,
       |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
       |FROM customer WHERE c_custkey <> 5""".stripMargin

  /** q257 — COLD COLUMNAR SWEEP through the DIRECT vectorized parquet
    * path: the table is unloaded and reopened (every block a file
    * reference), then a full-corpus aggregate sweeps it with no
    * pushdown — each clean cold bucket decodes its parquet block
    * straight into `ColumnarBatch`es via Spark's vectorized reader (no
    * `InternalRow → Row → vector` double conversion, only the three
    * projected columns decode) and NOTHING faults into the heap block
    * cache. The gate self-audits all three: every bucket took the
    * vectorized path, zero row-materializing block reads, zero blocks
    * resident afterwards. The aggregate deliberately sums an
    * EXPRESSION so the store's aggregate pushdown declines and the
    * scan path itself is what's measured. At 100 TB this is the cold
    * analytical sweep over a just-attached table: column-pruned
    * vectorized decode at file speed, hot working set untouched.
    */
  def coldColumnarSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_cold@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")),
      "l_orderkey", NumBuckets)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the reopened table must start fully cold")
    val vr0 = FileStore.vectorReads.get()
    val fr0 = FileStore.filesRead.get()
    val rows = spark.table(s"graft.`$name`")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          (col("l_quantity") * col("l_extendedprice"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("rev"))
      .collect()
    require(FileStore.vectorReads.get() - vr0 == NumBuckets.toLong,
      s"every cold bucket must take the vectorized path " +
        s"(${FileStore.vectorReads.get() - vr0} of $NumBuckets did)")
    require(FileStore.filesRead.get() == fr0,
      "the sweep must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a cold sweep must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldColumnarSweepSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q258 — COLD PUSHED AGGREGATE through the projected streaming
    * path: a grouped count/sum/max pushes to the store's aggregate
    * reader, and over a REOPENED (fully evicted) table each bucket's
    * partial streams EXACTLY its three input columns from the parquet
    * block — no connection dial, no full-row materialization, zero
    * blocks resident afterwards. This is the SUM/group-by analog of
    * q254's stats-served fast path (commit statistics cannot serve a
    * SUM — it needs every value). The sum column is integer-valued
    * (l_quantity), so the double partials are exact and
    * order-independent — the fast path can only skip I/O, never change
    * an answer. At 100 TB: `SELECT grp, sum(x) FROM cold_table GROUP
    * BY grp` decodes the grp and x columns and nothing else.
    */
  def coldAggProjectionQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_coldagg@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")),
      "l_orderkey", NumBuckets)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the reopened table must start fully cold")
    val pr0 = FileStore.projectedReads.get()
    val fr0 = FileStore.filesRead.get()
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty,
         |  max(l_extendedprice) AS max_price
         |FROM graft.`$name` GROUP BY l_returnflag""".stripMargin).collect()
    require(FileStore.projectedReads.get() - pr0 == NumBuckets.toLong,
      s"every cold bucket must stream its aggregate columns projected " +
        s"(${FileStore.projectedReads.get() - pr0} of $NumBuckets did)")
    require(FileStore.filesRead.get() == fr0,
      "the cold aggregate must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a cold aggregate must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldAggProjectionSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q259 — the CROSS-PROCESS COMMIT RACE end-to-end through SQL: a
    * foreign writer lands a commit in the table's directory (a
    * consistent manifest at a higher version, re-referencing the same
    * files — what another process's COW commit IS), the local DELETE
    * loses the conditional-commit CAS loudly
    * ([[BucketStore.ConcurrentWriteException]]), the engine absorbs
    * the foreign head automatically ([[BucketStore.refreshFromDisk]]),
    * and the retried statement re-plans against it and composes. The
    * gate self-audits the whole protocol: the loser published nothing,
    * the heap head is the foreign version, the retry lands past it,
    * and the foreign version stays a readable snapshot. This is the
    * Delta/Iceberg optimistic-commit loop that lets N independent
    * ingest jobs share one table with no coordinator — the filesystem
    * is the arbiter.
    */
  def commitRaceQuery(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.Files
    val name = s"cust_race@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", 8)
    val tdir = BucketStore.tableDir(name)
    val v = BucketStore.currentVersion(name)
    val fullCount = spark.table(s"graft.`$name`").count()
    // the foreign commit: head content republished at a higher version
    val head = new String(Files.readAllBytes(tdir.resolve(s"manifest-v$v.json")), UTF_8)
    val ts = BucketStore.get(name).commitTs
    val foreignV = v + 1000L
    Files.write(tdir.resolve(s"manifest-v$foreignV.json"), head
      .replace(s""""version":$v,"firstVersion"""", s""""version":$foreignV,"firstVersion"""")
      .replace(s""""commitTs":$ts""", s""""commitTs":${ts + 1000000L}""")
      .getBytes(UTF_8))
    val del = s"DELETE FROM graft.`$name` WHERE c_custkey = 7"
    val conflicted =
      try { spark.sql(del); false }
      catch { case NonFatal(e) if isWriteConflict(e) => true }
    require(conflicted, "the local commit must lose the race loudly, never clobber")
    require(BucketStore.currentVersion(name) == foreignV,
      "the loser must absorb the foreign head before the retry")
    require(spark.table(s"graft.`$name`").count() == fullCount,
      "the lost statement must have published nothing")
    spark.sql(del) // the plain retry composes on top of the foreign commit
    require(BucketStore.currentVersion(name) > foreignV, "the retry must land past the race")
    require(spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF $foreignV").count()
      == fullCount, "the absorbed foreign version must stay a readable snapshot")
    spark.table(s"graft.`$name`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  val commitRaceSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey <> 7
      |GROUP BY c_mktsegment""".stripMargin

  /** q260 — the FILTERED cold sweep through the vectorized path (the
    * single most common 100 TB shape: `WHERE` + cold scan): analyze
    * registers the filter column's commit statistics, the table is
    * unloaded and reopened fully cold, and a date-predicated
    * aggregate sweep then runs every bucket through the DIRECT
    * parquet→`ColumnarBatch` reader — the pushed filter rides the
    * path as a parquet row-group predicate ([[ParquetPruning]]) plus
    * an exact compiled batch evaluator ([[VectorFilterEval]]); rows
    * are never materialized, nothing faults into the heap cache, and
    * plan-time pruning runs from the manifest's statistics (zero stat
    * I/O). The aggregate sums an expression so aggregate pushdown
    * declines and the SCAN path is what's measured. Before round 17
    * this exact shape row-materialized through the double conversion
    * the vectorized path was built to kill.
    */
  def coldFilteredSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_coldfilter@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate")),
      "l_orderkey", NumBuckets)
    // analyze: the filter columns' zone maps ride the manifest, so the
    // reopened table plans its pruning with ZERO stat block reads
    BucketStore.registerStatColumns(name, Seq("l_shipdate", "l_quantity"))
    BucketStore.refreshManifestStats(name)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the reopened table must start fully cold")
    val vr0 = FileStore.vectorReads.get()
    val fr0 = FileStore.filesRead.get()
    val cutoff = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val rows = spark.table(s"graft.`$name`")
      .filter(col("l_shipdate") >= cutoff && col("l_quantity") > 5.0)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          (col("l_quantity") * col("l_extendedprice"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("rev"))
      .collect()
    require(FileStore.vectorReads.get() - vr0 == NumBuckets.toLong,
      s"every cold bucket must serve the FILTERED scan vectorized " +
        s"(${FileStore.vectorReads.get() - vr0} of $NumBuckets did)")
    require(FileStore.filesRead.get() == fr0,
      "the filtered sweep must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a filtered cold sweep must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldFilteredSweepSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity > 5
      |GROUP BY l_returnflag""".stripMargin

  /** q261 — the FILTERED cold PUSHED aggregate on the projected
    * streaming path: `SELECT grp, count, sum, max WHERE price > X` on
    * a fully evicted table pushes both the filter AND the aggregate to
    * the store, and each bucket's partial streams exactly FOUR columns
    * (the group key, two aggregate inputs, and the filter column) from
    * its parquet block — no connection dial, no full-row
    * materialization, zero blocks resident afterwards. The filter
    * evaluates against the projected schema inside the reader
    * ([[VectorFilterEval]] over the projected batch). q258 covered the
    * unfiltered case; this is the everyday shape at 100 TB — a
    * predicated rollup over a cold table that never touches a
    * connection or the heap cache. The sum column is integer-valued,
    * so the double partials are exact and order-independent.
    */
  def coldFilteredAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_coldfagg@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")),
      "l_orderkey", NumBuckets)
    BucketStore.registerStatColumns(name, Seq("l_extendedprice"))
    BucketStore.refreshManifestStats(name)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the reopened table must start fully cold")
    val pr0 = FileStore.projectedReads.get()
    val fr0 = FileStore.filesRead.get()
    val rows = spark.sql(
      s"""SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty,
         |  max(l_extendedprice) AS max_price
         |FROM graft.`$name` WHERE l_extendedprice > 2000.0
         |GROUP BY l_returnflag""".stripMargin).collect()
    require(FileStore.projectedReads.get() - pr0 == NumBuckets.toLong,
      s"every cold bucket must stream its FILTERED aggregate projected " +
        s"(${FileStore.projectedReads.get() - pr0} of $NumBuckets did)")
    require(FileStore.filesRead.get() == fr0,
      "the filtered cold aggregate must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a filtered cold aggregate must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldFilteredAggSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem WHERE l_extendedprice > 2000.0
      |GROUP BY l_returnflag""".stripMargin

  /** q262 — READER-SIDE REFRESH end-to-end through SQL: multi-process
    * READ, the other half of q259's multi-process WRITE. A foreign
    * writer's commit is produced by the engine itself (a real DELETE's
    * manifest, captured and withheld), the reader "restarts" seeing
    * only the old head, the commit lands — and the reader, correctly
    * snapshot-isolated, keeps serving its stale head until
    * `CALL graft.refresh` absorbs the foreign version explicitly. A
    * SECOND withheld commit then lands under
    * `CALL graft.refresh_policy(t, 0)`: the next plain scan absorbs it
    * at plan time with no explicit call — how N read-only jobs and
    * changefeed consumers follow one foreign writer at 100 TB. The
    * gate self-audits every step (stale before, absorbed count, head
    * version, policy-driven follow).
    */
  def readerRefreshQuery(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val name = s"cust_refresh@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", 8)
    BucketStore.clearRefreshPolicy(name) // bench reruns must start policy-free
    def liveCount(): Long = spark.table(s"graft.`$name`").count()
    val tdir = BucketStore.tableDir(name)
    val v0 = BucketStore.currentVersion(name)
    val fullCount = liveCount()
    // the "foreign" commit: a real DELETE's manifest, captured then
    // withheld while this process's view rewinds to v0 (restart)
    def withheldCommit(del: Long): (java.nio.file.Path, Array[Byte], Long) = {
      spark.sql(s"DELETE FROM graft.`$name` WHERE c_custkey = $del")
      val v = BucketStore.currentVersion(name)
      val m = tdir.resolve(s"manifest-v$v.json")
      val bytes = Files.readAllBytes(m)
      Files.delete(m)
      val d = BucketStore.unload(name).get
      BucketStore.openFromDisk(name, d)
      (m, bytes, v)
    }
    val (m1, bytes1, v1) = withheldCommit(7L)
    require(BucketStore.currentVersion(name) == v0,
      "the restarted reader must reopen at the old head")
    require(liveCount() == fullCount, "the reader must serve its stale snapshot")
    Files.write(m1, bytes1) // the foreign commit lands
    require(liveCount() == fullCount,
      "snapshot isolation: a reader never absorbs foreign commits unasked")
    val r = spark.sql(s"CALL graft.refresh('$name')").head()
    require(r.getInt(0) == 1, s"refresh must absorb exactly the foreign commit, got ${r.getInt(0)}")
    require(BucketStore.currentVersion(name) == v1, "refresh must adopt the foreign head")
    require(liveCount() == fullCount - 1, "the refreshed scan must see the foreign delete")
    // second foreign commit, this time followed AUTOMATICALLY by policy
    val (m2, bytes2, v2) = withheldCommit(8L)
    require(liveCount() == fullCount - 1)
    spark.sql(s"CALL graft.refresh_policy('$name', 0)")
    Files.write(m2, bytes2)
    require(liveCount() == fullCount - 2,
      "a policy-refreshed scan must follow the foreign writer with no explicit call")
    require(BucketStore.currentVersion(name) == v2)
    BucketStore.clearRefreshPolicy(name)
    spark.table(s"graft.`$name`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  val readerRefreshSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey NOT IN (7, 8)
      |GROUP BY c_mktsegment""".stripMargin

  /** q263 — COLD MERGE-ON-READ scans ride the vectorized path
    * end-to-end (round 17): a write-heavy table is coldest exactly
    * when its MoR queue is deepest, and before this round that shape
    * row-materialized through the fold. The gate: lineitem takes a
    * MoR DELETE (positional deletion-vector bits) and a MoR UPDATE
    * (delete bit + delta row), the table is fully evicted with the
    * MoR state still PENDING (the auto-compaction policy is not
    * crossed — ~12% pending < the 20% ratio), and a date-predicated
    * grouped sweep then decodes every bucket through the DIRECT
    * parquet→ColumnarBatch reader: deletion bits mask base rows by
    * file position (the parquet-mr row-group predicate is withheld so
    * positions stay sequential; the compiled batch evaluator enforces
    * the filter exactly), and the live delta rows append projected
    * and pre-filtered — zero connection dials, zero row-materialized
    * blocks, zero heap-cache faults. The table is CLUSTERED on
    * l_shipdate, so the update's live delta rows force the SORTED
    * MERGE variant: each bucket's vectorized stream interleaves the
    * delta at its cluster-key position, reproducing the fold's
    * serving order exactly (comparator parity is spec-pinned in
    * ColumnarScanSpec). The aggregate sums an expression so aggregate
    * pushdown declines and the SCAN path is what's gated.
    */
  def coldMorSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_coldmor@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate")),
      "l_orderkey", NumBuckets, clusterBy = Some("l_shipdate"))
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    spark.sql(s"DELETE FROM graft.`$name` WHERE l_quantity < 3")
    spark.sql(s"UPDATE graft.`$name` SET l_extendedprice = l_extendedprice * 2 " +
      "WHERE l_quantity >= 49")
    // zone maps over the folded table ride the manifest so the cold
    // plan prunes from statistics, never from block loads
    BucketStore.registerStatColumns(name, Seq("l_shipdate"))
    BucketStore.refreshManifestStats(name)
    BucketStore.evictTable(name)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the evicted table must start fully cold")
    require(BucketStore.get(name).mor.nonEmpty,
      "the MoR state must still be PENDING (the gate is the fold-free fast path)")
    val vr0 = FileStore.vectorReads.get()
    val fr0 = FileStore.filesRead.get()
    val cutoff = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val rows = spark.table(s"graft.`$name`")
      .filter(col("l_shipdate") >= cutoff)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          (col("l_quantity") * col("l_extendedprice"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("rev"))
      .collect()
    require(FileStore.vectorReads.get() - vr0 == NumBuckets.toLong,
      s"every cold bucket — MoR ones included — must serve the scan vectorized " +
        s"(${FileStore.vectorReads.get() - vr0} of $NumBuckets did)")
    require(FileStore.filesRead.get() == fr0,
      "the MoR sweep must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a cold MoR sweep must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldMorSweepSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity *
      |    (CASE WHEN l_quantity >= 49 THEN l_extendedprice * 2
      |          ELSE l_extendedprice END) AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |FROM lineitem
      |WHERE NOT (l_quantity < 3)
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin

  /** q264 — APPEND to a COLD table is O(receiving buckets), not
    * O(table): customer reopens fully evicted, a single-row INSERT
    * lands in ONE bucket, and the gate audits that exactly one bucket
    * faulted into heap and exactly one bucket's backing file changed
    * in the new manifest — every untouched bucket RETAINED its block
    * (same instance, same file, never loaded). Before round 17 the
    * write path materialized every bucket's rows just to hand the
    * untouched ones back, so this exact statement faulted the whole
    * table. The read-back is a grouped rollup over the evicted result
    * through the vectorized cold path; the inserted row lands in its
    * own group so the oracle pins both the append and the base.
    */
  def coldAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"cust_coldapp@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", NumBuckets)
    val tdir = BucketStore.unload(name).get
    BucketStore.openFromDisk(name, tdir)
    val before = BucketStore.get(name)
    require(before.buckets.loadedCount == 0, "the reopened table must start fully cold")
    val beforeFiles = before.buckets.indices
      .map(b => b -> before.buckets.block(b).file.map(_.path)).toMap
    spark.sql(s"INSERT INTO graft.`$name` VALUES (99000001, 'APPENDED', 123.45)")
    val after = BucketStore.get(name)
    val faulted = after.buckets.indices.count(b => after.buckets.block(b).isLoaded)
    require(faulted == 1,
      s"a one-bucket append to a cold table must fault exactly 1 bucket, faulted $faulted")
    val changed = after.buckets.indices.count { b =>
      after.buckets.block(b).file.map(_.path) != beforeFiles(b)
    }
    require(changed == 1,
      s"only the receiving bucket's file may change in the new version, changed $changed")
    BucketStore.evictTable(name)
    spark.table(s"graft.`$name`")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  val coldAppendSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM (
      |  SELECT c_mktsegment, c_acctbal FROM customer
      |  UNION ALL
      |  SELECT 'APPENDED' AS c_mktsegment, 123.45 AS c_acctbal
      |) GROUP BY c_mktsegment""".stripMargin

  /** q265 — the CDC changefeed over a COLD merge-on-read window costs
    * O(changed rows), gated through SQL: customer switches to
    * merge-on-read, takes an UPDATE (delete bit + delta row per
    * match) and a DELETE (bits only), the table fully evicts with the
    * state pending — and the `mode=cdc` batch read then serves the
    * whole window from the MoR state itself: newly set bits name the
    * deleted positions, base pre-images stream once from the block
    * files uncached, delta rows serve the post-images from heap. The
    * gate audits the fast-step counter moved and NOT ONE block
    * faulted into the heap cache; the DuckDB oracle replays the DML
    * as per-change-kind rollups with exact pre/post image sums.
    * Before this round the same read fetched every changed bucket
    * TWICE (both endpoint snapshots) and bag-diffed them.
    */
  def coldMorCdcQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"cust_morcdc@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      "c_custkey", NumBuckets)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    val v1 = BucketStore.currentVersion(name)
    spark.sql(s"UPDATE graft.`$name` SET c_acctbal = c_acctbal + 1000 " +
      "WHERE c_custkey % 100 = 7")
    spark.sql(s"DELETE FROM graft.`$name` WHERE c_custkey % 100 = 13")
    BucketStore.evictTable(name)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the evicted table must start fully cold")
    require(BucketStore.get(name).mor.nonEmpty,
      "the MoR state must still be PENDING")
    val fs0 = BucketedCdc.morFastSteps.get()
    val rows = spark.read.format("graft-buckets")
      .option("table", name).option("mode", "cdc")
      .option("changesstart", v1.toString).load()
      .groupBy(col(CdcSchema.ChangeType).as("change_type"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
      .collect()
    require(BucketedCdc.morFastSteps.get() > fs0,
      "a base-sharing MoR window must serve from MoR state, not fetch-and-diff")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a cold MoR changefeed must not fault a single block — pre-images stream uncached")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldMorCdcSql: String =
    """SELECT 'update_preimage' AS change_type, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey % 100 = 7
      |UNION ALL
      |SELECT 'update_postimage' AS change_type, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal + 1000 AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey % 100 = 7
      |UNION ALL
      |SELECT 'delete' AS change_type, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer WHERE c_custkey % 100 = 13""".stripMargin

  /** q266 — CROSS-PROCESS VACUUM SAFETY (round 18): the time-based
    * retention floor, the third leg of the multi-process protocol
    * (q259 proved concurrent WRITE, q262 multi-process READ — GC was
    * still single-process). A stale FOREIGN reader is faithfully a
    * captured old-snapshot metadata value whose block fetches hit the
    * shared directory lazily. The gate: orders takes a COW DELETE
    * (rewriting every touched bucket, so the old version's files
    * become unreferenced the moment it leaves history), then
    *   1. `CALL graft.vacuum(t, 1, 1h)` INSIDE the floor — drops
    *      nothing (every commit is seconds old), the foreign reader's
    *      block read completes;
    *   2. `CALL graft.vacuum(t, 1)` with NO floor — history trims,
    *      the old files are collected, and the foreign reader fails
    *      with the NAMED VacuumedFilesException (loud, never a silent
    *      wrong answer), while the surviving head serves the oracle-
    *      checked aggregate.
    * At 100 TB this is the Delta/Iceberg retention contract: size
    * `min_age_ms` to cover reader staleness and no reader ever loses
    * files mid-scan.
    */
  def vacuumFloorQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"ord_vacuum@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      "o_orderkey", 8)
    val vOld = BucketStore.currentVersion(name)
    spark.sql(s"DELETE FROM graft.`$name` WHERE o_orderkey % 97 = 0")
    val head = BucketStore.get(name)
    val foreign = BucketStore.snapshot(name, vOld) // the foreign JVM's in-heap metadata
    val b = (0 until foreign.buckets.length).find { i =>
      val of = foreign.buckets.block(i).file
      of.exists(_.path.nonEmpty) && of != head.buckets.block(i).file
    }.getOrElse(throw new IllegalStateException("COW delete must rewrite a bucket"))
    val oldFile = foreign.buckets.block(b).file.get
    // 1. inside the floor: nothing drops, nothing deletes, the stale
    //    foreign reader completes
    val r1 = spark.sql(s"CALL graft.vacuum('$name', 1, ${60L * 60 * 1000})").head()
    require(r1.getInt(0) == 0, s"a one-hour floor must protect seconds-old history, dropped ${r1.getInt(0)}")
    require(FileStore.readBlock(oldFile).length == oldFile.rows,
      "a foreign reader within the floor must complete")
    // 2. no floor: count-based trim, files collected, loud NAMED
    //    failure for the now-too-stale reader
    val r2 = spark.sql(s"CALL graft.vacuum('$name', 1)").head()
    require(r2.getInt(0) > 0, "the floorless vacuum must trim history")
    require(r2.getInt(1) == 1, "keep_last=1 must retain exactly the head")
    val loud =
      try { FileStore.readBlock(oldFile); false }
      catch { case _: FileStore.VacuumedFilesException => true }
    require(loud, "a reader staler than the floor must fail with the NAMED vacuum error")
    // the surviving head serves exactly the post-DML table
    spark.table(s"graft.`$name`")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_tp"))
  }

  val vacuumFloorSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_tp
      |FROM orders WHERE o_orderkey % 97 <> 0
      |GROUP BY o_orderstatus""".stripMargin

  /** q267 — DECIMAL columns on the COLD COLUMNAR path (round 18):
    * TPC-H money columns are DECIMAL, and before this round any
    * projection containing one demoted the scan to the row reader —
    * excluding the most common analytic schema shape from the fast
    * path. The gate: lineitem's quantity/extendedprice load as
    * DECIMAL(18,2) in the store, the table is evicted, and a
    * decimal-predicated grouped rollup (`WHERE l_quantity > 5.00`)
    * decodes every bucket through the vectorized reader — the pushed
    * decimal comparison enforced by the compiled batch evaluator,
    * decimal survivors compacted through the decimal copier, zero
    * row-materialized blocks, zero heap faults. Exact DECIMAL
    * arithmetic end-to-end; only the final sum casts to double for
    * the oracle compare.
    */
  def coldDecimalSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_colddec@$dir"
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      graft.tables.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity").cast(dec).as("l_quantity"),
          col("l_extendedprice").cast(dec).as("l_extendedprice")),
      "l_orderkey", NumBuckets)
    BucketStore.evictTable(name)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the table must start fully cold")
    val vr0 = FileStore.vectorReads.get()
    val fr0 = FileStore.filesRead.get()
    val rows = spark.table(s"graft.`$name`")
      .filter(col("l_quantity") > new java.math.BigDecimal("5.00"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("l_extendedprice"))
          .cast("double").as("rev"))
      .collect()
    require(FileStore.vectorReads.get() - vr0 == NumBuckets.toLong,
      s"every cold bucket must serve the DECIMAL-filtered scan vectorized " +
        s"(${FileStore.vectorReads.get() - vr0} of $NumBuckets did)")
    require(FileStore.filesRead.get() == fr0,
      "the decimal sweep must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a decimal cold sweep must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val coldDecimalSweepSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM lineitem
      |WHERE CAST(l_quantity AS DECIMAL(18,2)) > 5.00
      |GROUP BY l_returnflag""".stripMargin

  /** q268 — the DECIMAL PRUNING LADDER end-to-end (round 19): q267
    * proved decimal DECODE; this gates decimal SKIPPING. The lineitem
    * money columns load as DECIMAL(12,2) CLUSTERED BY l_extendedprice
    * with small row groups (the `graft.parquet.rowgroup.bytes` layout
    * knob), the table is evicted, and
    *
    *   - a selective range (`l_extendedprice < 2000.00`) sweeps the
    *     cold store: the parquet predicate compares the UNSCALED
    *     physical int64, so row groups outside the range never decode
    *     — audited via [[FileStore.vectorRowsDecoded]] (< 60% of the
    *     table decodes; the audit arms above 20k rows, where buckets
    *     have > 1 row group to skip), with every bucket vectorized,
    *     zero row-materialized blocks, zero heap faults;
    *   - a > 32-literal decimal IN list (the unscaled-long set probe
    *     + min/max row-group bound) aggregates by flag, staying
    *     vectorized.
    *
    * Oracle: the same two aggregates UNION ALL'd, tagged by leg.
    */
  def coldDecimalPruneQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"li_decprune@$dir"
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    BucketStore.drop(name)
    val li = graft.tables.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast(dec).as("l_quantity"),
        col("l_extendedprice").cast(dec).as("l_extendedprice"))
    // size row groups to the data (the real ops rule): small tables
    // need tiny groups to HAVE more than one per bucket; at larger SF
    // 128 KB keeps ~8 groups per bucket without paying 1000+ tiny
    // group inits per sweep
    val liRows = li.count()
    val groupBytes = if (liRows <= 100000L) 16 * 1024 else 128 * 1024
    val prev = System.getProperty("graft.parquet.rowgroup.bytes")
    System.setProperty("graft.parquet.rowgroup.bytes", groupBytes.toString)
    try {
      BucketStore.load(spark, name, li,
        "l_orderkey", NumBuckets, clusterBy = Some("l_extendedprice"))
    } finally {
      if (prev == null) System.clearProperty("graft.parquet.rowgroup.bytes")
      else System.setProperty("graft.parquet.rowgroup.bytes", prev)
    }
    val total = BucketStore.liveRowCount(BucketStore.get(name))
    BucketStore.evictTable(name)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the table must start fully cold")
    val t = spark.table(s"graft.`$name`")
    val (vr0, fr0, dd0) = (FileStore.vectorReads.get(), FileStore.filesRead.get(),
      FileStore.vectorRowsDecoded.get())
    val rangeLeg = t.filter(col("l_extendedprice") < new java.math.BigDecimal("2000.00"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("l_quantity")).cast("double").as("s"))
      .withColumn("leg", lit("range"))
      .select(col("leg"), col("l_returnflag"), col("n"), col("s"))
      .collect()
    // a bucket with NO row under the cut may be zone-map pruned at
    // plan time (legitimate — fewer reads, never more); every bucket
    // that IS read must take the vectorized path
    val vrRange = FileStore.vectorReads.get() - vr0
    require(vrRange > 0 && vrRange <= NumBuckets.toLong,
      s"the decimal range sweep must serve vectorized (read $vrRange of $NumBuckets)")
    require(FileStore.filesRead.get() == fr0,
      "the decimal range sweep must not row-materialize a single block")
    val decoded = FileStore.vectorRowsDecoded.get() - dd0
    require(total < 20000 || decoded < (total * 6) / 10,
      s"row groups outside the decimal range must be SKIPPED: decoded $decoded of $total")
    val inLits = (1 to 33).map(q => new java.math.BigDecimal(s"$q.00"))
    val vr1 = FileStore.vectorReads.get()
    val inLeg = t.filter(col("l_quantity").isin(inLits: _*))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(col("l_extendedprice")).cast("double").as("s"))
      .withColumn("leg", lit("in"))
      .select(col("leg"), col("l_returnflag"), col("n"), col("s"))
      .collect()
    require(FileStore.vectorReads.get() - vr1 == NumBuckets.toLong,
      "the >32-literal decimal IN sweep must stay vectorized")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the decimal pruning gate must not fault blocks into the heap cache")
    val all = rangeLeg ++ inLeg
    spark.createDataFrame(java.util.Arrays.asList(all: _*), all.head.schema)
  }

  val coldDecimalPruneSql: String =
    """SELECT 'range' AS leg, l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s
      |FROM lineitem
      |WHERE CAST(l_extendedprice AS DECIMAL(12,2)) < 2000.00
      |GROUP BY l_returnflag
      |UNION ALL
      |SELECT 'in' AS leg, l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s
      |FROM lineitem
      |WHERE CAST(l_quantity AS DECIMAL(12,2)) IN
      |  (1.00,2.00,3.00,4.00,5.00,6.00,7.00,8.00,9.00,10.00,11.00,12.00,13.00,
      |   14.00,15.00,16.00,17.00,18.00,19.00,20.00,21.00,22.00,23.00,24.00,25.00,
      |   26.00,27.00,28.00,29.00,30.00,31.00,32.00,33.00)
      |GROUP BY l_returnflag""".stripMargin

  /** q269 — BINARY COLUMNS RIDE THE VECTORIZED COLD PATH (round 20):
    * multimodal corpora store content (image/audio bytes) as BINARY,
    * and before round 20 `supported()` excluded BinaryType, so every
    * scan projecting one row-materialized the whole block — the
    * dominant multimodal sweep shape on the slow path. The gate builds
    * a store table whose `content` column is the documents' UTF-8
    * head bytes (deterministic, so DuckDB replays it exactly as
    * `encode(substr(text,1,64))`), evicts it, and runs a cold
    * per-language sweep over the binary column — byte counts and an
    * md5 content signature — audited IN-GATE: every bucket vectorized,
    * zero row-materialized blocks, zero heap faults. No pruning story
    * (binary zone maps stay None, correctly): the claim is that bytes
    * ride the vectors like strings minus the UTF-8 step.
    */
  def coldBinarySweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"doc_blob@$dir"
    BucketStore.drop(name)
    val docs = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 64).cast("binary").as("content"))
    BucketStore.load(spark, name, docs, "doc_id", NumBuckets)
    BucketStore.evictTable(name)
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "the table must start fully cold")
    val (vr0, fr0) = (FileStore.vectorReads.get(), FileStore.filesRead.get())
    val out = spark.table(s"graft.`$name`")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum(length(col("content"))).as("total_bytes"),
        org.apache.spark.sql.functions.min(md5(col("content"))).as("sig"))
      .collect()
    require(FileStore.vectorReads.get() - vr0 == NumBuckets.toLong,
      "every cold bucket of the binary sweep must take the vectorized path")
    require(FileStore.filesRead.get() == fr0,
      "the binary sweep must not row-materialize a single block")
    require(BucketStore.get(name).buckets.loadedCount == 0,
      "a cold multimodal sweep must not fault blocks into the heap cache")
    spark.createDataFrame(java.util.Arrays.asList(out: _*), out.head.schema)
  }

  /** DuckDB twin: md5(VARCHAR) hashes the string's UTF-8 bytes — the
    * exact bytes Spark's `cast(substring(text,1,64) AS BINARY)`
    * carries in the content column.
    */
  val coldBinarySweepSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(octet_length(encode(substr(text, 1, 64)))) AS BIGINT) AS total_bytes,
      |  min(md5(substr(text, 1, 64))) AS sig
      |FROM documents GROUP BY lang""".stripMargin

  /** DuckDB replay of the MERGE as LEFT JOIN (matched branch) UNION
    * anti-joined inserts — the standard relational expansion.
    */
  val mergeIntoSql: String =
    """WITH src AS (
      |  SELECT c_custkey AS k,
      |         c_custkey + CASE WHEN c_custkey % 30 = 3 THEN 5000000 ELSE 0 END AS newkey,
      |         c_acctbal + 1000 AS bal
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_custkey + 10000000, 555.0
      |  FROM customer WHERE c_custkey % 10 = 7
      |), merged AS (
      |  SELECT CASE WHEN s.k IS NOT NULL THEN s.newkey ELSE t.c_custkey END AS c_custkey,
      |         CASE WHEN s.k IS NOT NULL THEN s.bal ELSE t.c_acctbal END AS c_acctbal,
      |         CASE WHEN s.k IS NOT NULL THEN 'MERGED_U' ELSE t.c_mktsegment END AS c_mktsegment
      |  FROM customer t LEFT JOIN src s ON t.c_custkey = s.k
      |  UNION ALL
      |  SELECT s.newkey, s.bal, 'MERGED_I'
      |  FROM src s LEFT JOIN customer t ON t.c_custkey = s.k
      |  WHERE t.c_custkey IS NULL
      |)
      |SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
      |  count(CASE WHEN c_custkey >= 5000000 THEN 1 END) AS n_hi
      |FROM merged GROUP BY c_mktsegment""".stripMargin

  // ——— q168: ANN served off the store (IVF lists AS bucket layout) ———

  /** q168 — the vector index MEETS the storage layout: embeddings are
    * persisted in the bucket store keyed by their IVF list id
    * (`numBuckets = nlist`, so a coarse-quantizer list IS a storage
    * bucket), and a query's probe set reaches the scan as the
    * broadcast join's runtime IN filter (the q96 DPP machinery) —
    * the store dials ONLY the probed lists' buckets. This is the
    * production deployment shape of q33's flat IVF: the inverted
    * lists live in the table layout, candidate generation is bucket
    * pruning, and nothing outside the probed buckets is even
    * CONNECTED to, let alone scanned (BucketedSourceSpec pins the
    * dial count for a single query at ≤ nprobe + margin).
    *
    * At 100 TB this is exactly how you'd serve ANN from a lakehouse:
    * cluster the vector table by list id, let runtime filtering prune
    * I/O to nprobe/nlist of the data per query batch. Centroids are
    * the deterministic seed sample (the layout story, not quantizer
    * quality, is what's demonstrated — q33 gates the Lloyd step).
    */
  def storeAnnQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val nlist = 16
    val name = s"ivf_ann@$dir"
    val emb = graft.tables.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist)
    if (!BucketStore.exists(name)) {
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
      BucketStore.load(spark, name,
        assigned.select(col("cent_id"), col("id"), col("vec")), "cent_id",
        numBuckets = nlist)
    }
    val store = spark.read.format("graft-buckets").option("table", name).load()
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = Similarity.probeCentroids(queries, centroids, nprobe = 4)
      .withColumnRenamed("cent_id", "p_cent")
    val cands = store.join(broadcast(probes),
        col("cent_id") === col("p_cent") && col("query_id") =!= col("id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("vec")), 6))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    cands.withColumn("rn", row_number().over(wk)).filter(col("rn") <= 5)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("rn"))
  }

  /** q169 — the PERSISTED INVERTED INDEX: the q155 scaladoc's "at
    * 100 TB the posting list is what you'd persist bucketed by token"
    * made real. Posting rows (doc_id, tok, tf) live in the store
    * keyed by `fingerprint64(tok)` (the bucket hash needs an integral
    * key; the fingerprint is the repo's exactly-replicable string
    * key), and a query's term set reaches the scan as the broadcast
    * join's runtime IN filter over those hashes — only the buckets
    * owning the query's terms are dialed, which at a real vocabulary
    * is a vanishing fraction of the index. Scoring is byte-identical
    * to q155 (shared [[graft.operators.Similarity.bm25Rank]], corpus
    * statistics from the same full tf table), so the oracle IS q155's.
    * The join carries BOTH tok_fp (prunes buckets) and tok (exact —
    * a fingerprint collision can co-locate two tokens in a bucket but
    * never cross-match them).
    */
  def storeBm25Query(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.functions.Fingerprint64
    val name = s"postings@$dir"
    val tf = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    if (!BucketStore.exists(name)) {
      BucketStore.load(spark, name,
        tf.select(Fingerprint64(col("tok")).as("tok_fp"), col("tok"),
          col("doc_id"), col("tf")),
        "tok_fp", numBuckets = NumBuckets)
    }
    val index = spark.read.format("graft-buckets").option("table", name).load()
    val qterms = tf.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("tok")).distinct()
      .select(col("query_id"), col("tok").as("q_tok"),
        Fingerprint64(col("tok")).as("q_fp"))
    val candidates = index.join(broadcast(qterms),
        col("tok_fp") === col("q_fp") && col("tok") === col("q_tok"))
      .select(col("query_id"), col("doc_id"), col("tok"), col("tf"))
    Similarity.bm25Rank(candidates, tf, k = 10)
  }

  /** q170 — CONTINUOUS INGEST into the vector index: the q168 table
    * built from a base corpus, then a later embedding batch assigned
    * against the SAME frozen centroids and APPENDED through the DSv2
    * write path (one shuffle into the bucket layout, two-phase commit
    * under one MVCC version — the store's ordinary append). Queries
    * immediately see base ∪ batch; because per-row assignment against
    * frozen centroids is independent of arrival order, the merged
    * index is bit-identical to a from-scratch build and the oracle is
    * exactly q168's full chain. The vector-side completion of the
    * signature-index ingest story (q134): same frozen-quantizer
    * discipline, same per-batch cost ∝ batch, never ∝ index.
    */
  def storeAnnIngestQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val nlist = 16
    val name = s"ivf_ann_inc@$dir"
    val emb = graft.tables.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist)
    if (!BucketStore.exists(name)) {
      // base corpus: everything except the later batch (centroids'
      // vec_id < 16 rows are all in the base — the quantizer freezes
      // at index creation)
      val isBatch = col("vec_id") % 7 === 3 && col("vec_id") >= 16
      BucketStore.load(spark, name,
        Similarity.ivfAssign(emb.filter(!isBatch), "vec_id", "embedding", centroids)
          .select(col("cent_id"), col("id"), col("vec")),
        "cent_id", numBuckets = nlist)
      Similarity.ivfAssign(emb.filter(isBatch), "vec_id", "embedding", centroids)
        .select(col("cent_id"), col("id"), col("vec"))
        .writeTo(s"graft.`$name`").append()
    }
    val store = spark.read.format("graft-buckets").option("table", name).load()
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = Similarity.probeCentroids(queries, centroids, nprobe = 4)
      .withColumnRenamed("cent_id", "p_cent")
    val cands = store.join(broadcast(probes),
        col("cent_id") === col("p_cent") && col("query_id") =!= col("id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("vec")), 6))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    cands.withColumn("rn", row_number().over(wk)).filter(col("rn") <= 5)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("rn"))
  }

  /** q234 — INDEX LIFECYCLE: drift-triggered centroid refresh. q170
    * ingests against FROZEN centroids forever; at 100 TB distribution
    * drift degrades recall unboundedly, so a production index needs a
    * recluster op. This query builds the q170 drift state (seed
    * quantizer + a later appended batch), then REFRESHES: recompute
    * the quantizer from the CURRENT corpus (one Lloyd step — the q33
    * machinery), reassign every vector, and republish the lists
    * through the store's ordinary load path under a new MVCC version
    * — the q146 retire/compact pattern applied to the ANN index.
    * Readers pinned on the old version keep serving it; new queries
    * probe the refreshed quantizer.
    *
    * The gate is the bit-identity trick: serving from the REFRESHED
    * store table must equal a from-scratch flat IVF build with the
    * same refined quantizer — the oracle is exactly q33's
    * (`ivfKnnSql`). The drift AUDIT lives in q230: its `store` label
    * (frozen seed quantizer) vs `ivf` label (refreshed) is the
    * before/after recall comparison on the shared eval surface.
    */
  def annRefreshQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val nlist = 16
    val name = s"ivf_refresh@$dir"
    val centsName = s"ivf_refresh_cents@$dir"
    val emb = graft.tables.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    if (!BucketStore.exists(name)) {
      // generation 1: the q170 drift state — frozen seed quantizer,
      // then a later batch appended against it
      val seedCents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nlist)
      val isBatch = col("vec_id") % 7 === 3 && col("vec_id") >= 16
      BucketStore.load(spark, name,
        Similarity.ivfAssign(emb.filter(!isBatch), "vec_id", "embedding", seedCents)
          .select(col("cent_id"), col("id"), col("vec")),
        "cent_id", numBuckets = nlist)
      Similarity.ivfAssign(emb.filter(isBatch), "vec_id", "embedding", seedCents)
        .select(col("cent_id"), col("id"), col("vec"))
        .writeTo(s"graft.`$name`").append()
      // REFRESH: one Lloyd step over the CURRENT corpus, then a full
      // reassignment, BOTH republished through the ordinary load path
      // — the quantizer is itself a stored artifact (kilobytes), so
      // SERVING never re-runs the corpus-scale Lloyd pass; only the
      // refresh op pays it, which is the entire point of a refresh
      // lifecycle
      val cents2 = Similarity.kmeansCentroids(emb, "vec_id", "embedding", nlist, iters = 1)
      BucketStore.drop(centsName)
      BucketStore.load(spark, centsName, cents2, "cent_id", numBuckets = 4)
      BucketStore.load(spark, name,
        Similarity.ivfAssign(emb, "vec_id", "embedding", cents2)
          .select(col("cent_id"), col("id"), col("vec")),
        "cent_id", numBuckets = nlist)
    }
    val cents = spark.read.format("graft-buckets").option("table", centsName).load()
    val store = spark.read.format("graft-buckets").option("table", name).load()
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probes = Similarity.probeCentroids(queries, cents, nprobe = 4)
      .withColumnRenamed("cent_id", "p_cent")
    val cands = store.join(broadcast(probes),
        col("cent_id") === col("p_cent") && col("query_id") =!= col("id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosine(col("qv"), col("vec")), 6))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("id").asc)
    cands.withColumn("rn", row_number().over(wk)).filter(col("rn") <= 5)
      .select(col("query_id"), col("id").as("cand_id"), col("sim"), col("rn"))
  }

  /** Oracle: the q33 IVF chain with seed centroids (no Lloyd step —
    * the layout, not the quantizer, is under test here).
    */
  val storeAnnSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      |  FROM embeddings WHERE vec_id < 16),
      |assigned AS (
      |  SELECT id, vec, cent_id FROM (
      |    SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS arn
      |    FROM embeddings e CROSS JOIN cent c) t WHERE arn = 1),
      |probes AS (
      |  SELECT query_id, qv, cent_id FROM (
      |    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cent_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
      |                 c.cent_id) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 20) t WHERE prn <= 4),
      |cands AS (
      |  SELECT p.query_id, a.id,
      |    round(list_cosine_similarity(p.qv, a.vec), 6) AS sim
      |  FROM probes p JOIN assigned a USING (cent_id)
      |  WHERE p.query_id <> a.id)
      |SELECT query_id, id AS cand_id, sim, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT query_id, id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS rn
      |  FROM cands) t WHERE rn <= 5""".stripMargin

  // ——— q185: write-path CHECK constraints ———

  /** q185 — the data-quality contract AT the store boundary: a table
    * created with `TBLPROPERTIES('check'='...')` accepts a valid
    * INSERT, REJECTS a violating one (task-side, see
    * [[CheckConstraint]]), and — the part that matters — the rejected
    * batch publishes NOTHING: the version is unchanged and the final
    * content is exactly the valid rows, which is what the oracle
    * hashes. A constraint system that let half a batch through would
    * fail this gate, not just a spec.
    */
  def checkConstraintQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"orders_chk@$dir"
    BucketStore.drop(name)
    spark.sql(
      s"""CREATE TABLE graft.`$name` (
         |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
         |PARTITIONED BY (bucket($NumBuckets, o_orderkey))
         |TBLPROPERTIES('check'='o_totalprice > 0 AND o_orderkey IS NOT NULL')""".stripMargin)
    graft.tables.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .createOrReplaceTempView("chk_src")
    spark.sql(s"INSERT INTO graft.`$name` SELECT * FROM chk_src")
    val versionBefore = BucketStore.get(name).version
    val rejected =
      try {
        spark.sql(s"INSERT INTO graft.`$name` " +
          "SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, -o_totalprice FROM chk_src")
        false
      } catch {
        case NonFatal(e) if causes(e).exists(c =>
          c.getMessage != null && c.getMessage.contains("CHECK constraint violation")) => true
      }
    require(rejected, "violating INSERT was accepted by a CHECK-constrained table")
    require(BucketStore.get(name).version == versionBefore,
      "rejected batch still published a version — two-phase commit broke")
    spark.table(s"graft.`$name`")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_price"))
  }

  val checkConstraintSql: String =
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY o_orderstatus""".stripMargin

  // ——— q191: symbolic time travel (snapshot tags) ———

  /** q191 — `CALL graft.tag` + `VERSION AS OF '<tag>'`: tag the
    * pristine load, bury it under an append, and read the TAG — the
    * result must hash-match the original table even though the live
    * table no longer does. Symbolic addressing is what makes MVCC
    * history usable by humans and schedulers ("train against
    * 'release-v1'", not "against v83721").
    */
  def taggedTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val name = s"customer_tag@$dir"
    BucketStore.drop(name)
    BucketStore.load(spark, name, graft.tables.Tables.customer(spark, dir), "c_custkey",
      NumBuckets)
    spark.sql(s"CALL graft.tag('$name', 'pristine')").collect()
    // bury the tagged snapshot under extra rows
    graft.tables.Tables.customer(spark, dir)
      .withColumn("c_custkey", col("c_custkey") + 50000000L)
      .writeTo(s"graft.`$name`").append()
    spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF 'pristine'")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_bal"))
  }

  val taggedTravelSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
      |FROM customer
      |GROUP BY c_mktsegment""".stripMargin
}
