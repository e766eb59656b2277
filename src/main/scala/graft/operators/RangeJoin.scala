package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Distributed range (interval) join: match points `p` to intervals
  * `[start, end)` of the same key.
  *
  * A naive `l.ts BETWEEN r.start AND r.end` predicate has no equi-key
  * and Spark plans a broadcast-nested-loop — O(n·m) and unusable at
  * scale. This operator buckets time into `bucketUs` grains: each
  * interval replicates to the buckets it covers, each point maps to
  * its one bucket, and the join becomes an equi-join on
  * (key, bucket) followed by the exact range predicate. With
  * intervals ≤ bucket length, each interval lands in ≤ 2 buckets, so
  * the join input is ~2|R| + |L| rows hashed on a well-distributed
  * key — the standard bucketed range-join plan.
  */
object RangeJoin {

  /** points(key, ts_us, pointCols…) ⋈ intervals(key, start_us, end_us,
    * intervalCols…): inner join on containment start ≤ ts < end.
    */
  /** `joinHint`: the co-bucketed caller pins "merge" so the tiny test
    * tables' real reported statistics can't flip the plan to a
    * broadcast (right at this size, impossible for a 100 TB fact) —
    * the zero-Exchange SPJ shape is the thing under test.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame, bucketUs: Long,
      joinHint: Option[String] = None): DataFrame = {
    // integral `div`, NOT `/`: double division loses precision above
    // 2^53 and µs epochs are ~1.7e18 — an off-by-one bucket drops rows
    val p0 = points.withColumn("__b", expr(s"ts_us div ${bucketUs}L"))
    val p = joinHint.map(p0.hint(_)).getOrElse(p0)
    // an empty/inverted interval (end <= start) matches nothing, but
    // sequence(bs, be) with be < bs would auto-step DOWNWARD and
    // materialize a huge bucket array for one malformed row — filter
    // it to produce nothing instead
    val iv = intervals.filter(col("end_us") > col("start_us"))
      .withColumn("__bs", expr(s"start_us div ${bucketUs}L"))
      .withColumn("__be", expr(s"(end_us - 1) div ${bucketUs}L"))
      .withColumn("__b", explode(sequence(col("__bs"), col("__be"))))
      .drop("__bs", "__be")
    p.join(iv, Seq("key", "__b"))
      .filter(col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .drop("__b")
  }

  /** Gated query — purchase attribution: clicks of the same user
    * within 1 hour at-or-after each purchase.
    */
  def attributionQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val hourUs = 3600L * 1000000L
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("ts_us"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + hourUs).as("end_us"), col("event_id").as("purchase_id"))
    pointInInterval(clicks, purchases, bucketUs = hourUs)
      .select(col("key").as("user_id"), col("purchase_id"), col("click_id"),
        col("ts_us").as("click_ts_us"))
  }

  val attributionSql: String =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
      |  CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND epoch_us(c.ts) >= epoch_us(p.ts)
      | AND epoch_us(c.ts) < epoch_us(p.ts) + 3600000000""".stripMargin

  /** q39's semantics through the bucket catalog: both sides are slices
    * of user_id-bucketed events, the equi-key is (user_id, time
    * bucket), and — because the session allows join keys to be a
    * SUPERSET of the partition keys (`requireAllClusterKeysForCoPartition
    * = false`, see GraftSession) — Spark plans a storage-partitioned
    * join with ZERO Exchange: same-user rows are already co-located,
    * the extra bucket key only orders the merge. Same oracle as q39.
    */
  def attributionBucketedQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.bucketed.BucketStore
    BucketStore.ensureLoaded(spark, s"events@$dir", dir, "events", "user_id", 16)
    val hourUs = 3600L * 1000000L
    val ev = spark.table(s"graft.`events@$dir`")
      .withColumn("ts_us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("ts_us"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("ts_us").as("start_us"),
        (col("ts_us") + hourUs).as("end_us"), col("event_id").as("purchase_id"))
    pointInInterval(clicks, purchases, bucketUs = hourUs, joinHint = Some("merge"))
      .select(col("key").as("user_id"), col("purchase_id"), col("click_id"),
        col("ts_us").as("click_ts_us"))
  }

  // ——— q224: interval × interval OVERLAP join ———

  /** Interval-OVERLAP join: both sides are ranges of the same key and
    * a pair matches when `a.start < b.end AND b.start < a.end` —
    * sessions × campaigns, downtime × SLA windows, exposure ×
    * conversion windows. Like [[pointInInterval]], the naive predicate
    * has no equi-key (BNLJ at scale); both sides replicate to the time
    * buckets they cover and candidates meet on (key, bucket).
    *
    * Duplicate suppression WITHOUT a distinct: an overlapping pair
    * shares every bucket in the overlap range, so it is accepted only
    * in the FIRST shared bucket — `bucket = greatest(a_bs, b_bs)` — a
    * per-row predicate in the join condition instead of a dedup
    * shuffle of the full candidate set.
    *
    * a: (key, a_id, a_start, a_end) · b: (key, b_id, b_start, b_end),
    * half-open [start, end) microsecond intervals. Returns matched
    * pairs with the exact overlap duration.
    */
  def intervalOverlap(a: DataFrame, b: DataFrame, bucketUs: Long): DataFrame = {
    def buckets(df: DataFrame, startC: String, endC: String, pfx: String) =
      df.filter(col(endC) > col(startC))
        .withColumn(s"${pfx}_bs", expr(s"$startC div ${bucketUs}L"))
        .withColumn(s"${pfx}_b", explode(expr(
          s"sequence($startC div ${bucketUs}L, ($endC - 1) div ${bucketUs}L)")))
    val ae = buckets(a, "a_start", "a_end", "a")
    val be = buckets(b, "b_start", "b_end", "b")
    ae.join(be,
        ae("key") === be("key") && col("a_b") === col("b_b") &&
          col("a_b") === greatest(col("a_bs"), col("b_bs")) &&
          col("a_start") < col("b_end") && col("b_start") < col("a_end"))
      .select(ae("key"), col("a_id"), col("b_id"),
        (least(col("a_end"), col("b_end")) - greatest(col("a_start"), col("b_start")))
          .as("overlap_us"))
  }

  /** q224 gate: per-user view-exposure intervals ([ts, ts+30 min))
    * overlapped with purchase-attribution intervals ([ts, ts+20 min)),
    * aggregated per user. Intervals never exceed the 30-min bucket, so
    * each replicates to ≤ 2 buckets.
    */
  def intervalOverlapQuery(spark: SparkSession, dir: String): DataFrame = {
    val m30 = 30L * 60L * 1000000L; val m20 = 20L * 60L * 1000000L
    val ev = Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts")))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("key"), col("event_id").as("a_id"),
        col("ts_us").as("a_start"), (col("ts_us") + m30).as("a_end"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("event_id").as("b_id"),
        col("ts_us").as("b_start"), (col("ts_us") + m20).as("b_end"))
    intervalOverlap(views, purchases, bucketUs = m30)
      .groupBy(col("key").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("overlap_us")).as("total_overlap_us"),
        min(col("a_id")).as("first_view_id"))
  }

  /** Oracle: the direct overlap predicate (DuckDB's optimizer handles
    * the small gate volume; the Spark side exists precisely because
    * that plan doesn't scale).
    */
  val intervalOverlapSql: String =
    """WITH v AS (
      |  SELECT user_id, event_id AS a_id, epoch_us(ts) AS a_start,
      |    epoch_us(ts) + 1800000000 AS a_end
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT user_id, event_id AS b_id, epoch_us(ts) AS b_start,
      |    epoch_us(ts) + 1200000000 AS b_end
      |  FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, count(*) AS n_pairs,
      |  CAST(sum(least(v.a_end, p.b_end) - greatest(v.a_start, p.b_start)) AS BIGINT)
      |    AS total_overlap_us,
      |  min(v.a_id) AS first_view_id
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND v.a_start < p.b_end AND p.b_start < v.a_end
      |GROUP BY 1""".stripMargin
}
