package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Distributed as-of join: match each left row to the most recent
  * right row of the same key with `rightTs <= leftTs` (the temporal
  * join Spark lacks as a built-in; DuckDB ships it as ASOF JOIN,
  * which serves as the oracle).
  *
  * Implementation is the canonical scalable union-and-carry plan, not
  * a per-key loop: tag both sides, union, then a single
  * (key)-partitioned window ordered by (ts, side) carries the last
  * seen right-side row forward with `last(_, ignoreNulls)` over an
  * unbounded-preceding frame. The whole right payload travels as ONE
  * struct (null on left-tagged rows), so every matched column comes
  * from the same right row and a legitimately-NULL payload column
  * survives — carrying columns independently would mix fields from
  * different right rows whenever one of them is null. Exactly ONE
  * hash shuffle on the key and one sort per partition — the same cost
  * as a sort-merge join, with no range-explosion. Ties (equal
  * timestamps) order the right side first, giving the ASOF `>=`
  * convention.
  *
  * DETERMINISM on right-side ts ties: two right rows at identical
  * (key, ts) would otherwise carry an arbitrary payload (window order
  * (ts, side) leaves their relative order engine-chosen). `tieBreak`
  * names right-payload columns appended ascending to the window
  * ordering, so the carried row is the MAX of the tie-break tuple —
  * fixed across retries, partitionings, and engines. Oracles mirror it
  * by deduping the right side to that same arg-max row per (key, ts)
  * before the ASOF join.
  */
object AsOfJoin {

  /** tieBreak columns are read via `__r.getField(c)`, so a non-member
    * would surface as an opaque analysis error deep in the window plan
    * — validate at the API boundary instead.
    */
  private def requireTieBreakSubset(tieBreak: Seq[String], rightCols: Seq[String]): Unit = {
    val bad = tieBreak.filterNot(rightCols.contains)
    require(bad.isEmpty,
      s"asOf tieBreak column(s) ${bad.mkString("'", "', '", "'")} must be members of " +
        s"rightCols [${rightCols.mkString(", ")}]")
  }

  /** leftCols/rightCols: payload columns to carry. Output = left
    * payload + matched right payload (nulls where no prior right row).
    * `tieBreak`: right-payload columns ordering equal-(key,ts) right
    * rows; the last (max) one wins the carry.
    */
  def asOf(left: DataFrame, right: DataFrame, key: String, ts: String,
      leftCols: Seq[String], rightCols: Seq[String],
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    requireTieBreakSubset(tieBreak, rightCols)
    // a right row with NULL ts or NULL key can never be an as-of match
    // (rightTs <= leftTs is unknown; keys join by equality) — but the
    // nulls-FIRST ascending sort would carry a null-ts row as the
    // "earliest" match for every left row before the key's first real
    // right row. Drop them before tagging, like the SQL ASOF does.
    val rightClean = right.filter(col(ts).isNotNull && col(key).isNotNull)
    val rStructType = org.apache.spark.sql.types.StructType(rightCols.map(c => right.schema(c)))
    val lTagged = left.select(
      (col(key).as("__k") +: col(ts).as("__ts") +: lit(1).as("__side") +:
        (leftCols.map(c => col(c)) :+ lit(null).cast(rStructType).as("__r"))): _*)
    val rTagged = rightClean.select(
      (col(key).as("__k") +: col(ts).as("__ts") +: lit(0).as("__side") +:
        (leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
          struct(rightCols.map(c => col(c)): _*).cast(rStructType).as("__r"))): _*)
    val combined = lTagged.unionByName(rTagged)
    // right rows (side 0) sort before left rows at equal ts → ASOF >=;
    // tie-break cols (null on left rows, nulls-first) order tied right
    // rows so last() deterministically carries the max tuple
    val ordering = Seq(col("__ts").asc, col("__side").asc) ++
      tieBreak.map(c => col("__r").getField(c).asc_nulls_first)
    val w = Window.partitionBy(col("__k"))
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = combined.withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select((col("__k").as(key) +: col("__ts").as(ts) +:
        (leftCols.map(col) ++ rightCols.map(c => col("__m").getField(c).as(c)))): _*)
  }

  /** Gated query: join each click/view/error event to the user's most
    * recent *purchase* at-or-before it, carrying the purchase id and
    * value. Timestamps emitted as epoch micros.
    */
  def eventAsOfQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val left = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    asOf(left, purchases, key = "user_id", ts = "ts",
      leftCols = Seq("event_id", "event_type"),
      rightCols = Seq("purchase_id", "purchase_value"),
      tieBreak = Seq("purchase_id"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("purchase_id"), col("purchase_value"))
  }

  /** Oracle: DuckDB's native ASOF LEFT JOIN (matches on the greatest
    * right ts <= left ts per key). The tie-break is mirrored by
    * deduping purchases to the max-event_id row per (user_id, ts)
    * before the join — at a tied right ts both engines then carry the
    * same row, instead of each picking arbitrarily.
    */
  val eventAsOfSql: String =
    """SELECT l.user_id, CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
      |  l.event_id, l.event_type,
      |  p.event_id AS purchase_id, p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type <> 'purchase') l
      |ASOF LEFT JOIN (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY user_id, ts ORDER BY event_id DESC) AS __rn
      |    FROM events WHERE event_type = 'purchase') WHERE __rn = 1) p
      |  ON l.user_id = p.user_id AND l.ts >= p.ts""".stripMargin

  /** Same-source as-of: when left and right are row-disjoint slices of
    * ONE table (the dominant event-stream case — "each event vs the
    * most recent purchase"), the union in [[asOf]] is unnecessary: tag
    * sides with a row-local predicate and run the carry window over the
    * single scan. Over a key-bucketed source this plans with ZERO
    * Exchange — the scan's KeyGroupedPartitioning satisfies the
    * window's ClusteredDistribution — so at 100 TB the whole as-of is
    * a per-partition sort, no shuffle at all (PlanAuditSpec asserts
    * this through the graft catalog).
    *
    * `isRight` rows supply the carried payload; all other rows are the
    * left side. Same tie convention as [[asOf]]: at equal ts the right
    * row sorts first (ASOF >=).
    */
  def asOfSelf(src: DataFrame, key: String, ts: String, isRight: Column,
      leftCols: Seq[String], rightCols: Seq[String],
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    requireTieBreakSubset(tieBreak, rightCols)
    val tagged = src
      .withColumn("__side", when(isRight, lit(0)).otherwise(lit(1)))
      .withColumn("__r", when(isRight, struct(rightCols.map(col): _*)))
    // same deterministic tie ordering as [[asOf]]
    val ordering = Seq(col(ts).asc, col("__side").asc) ++
      tieBreak.map(c => col("__r").getField(c).asc_nulls_first)
    val w = Window.partitionBy(col(key))
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((col(key) +: col(ts) +:
        (leftCols.map(col) ++ rightCols.map(c => col("__m").getField(c).as(c)))): _*)
  }

  /** q38's semantics through the bucket catalog: events co-located by
    * user_id, as-of carried by [[asOfSelf]] with no Exchange anywhere
    * in the plan. Same oracle as q38 (DuckDB ASOF LEFT JOIN).
    */
  def eventAsOfBucketedQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.bucketed.BucketStore
    BucketStore.ensureLoaded(spark, s"events@$dir", dir, "events", "user_id", 16)
    val ev = spark.table(s"graft.`events@$dir`")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    asOfSelf(ev, key = "user_id", ts = "ts",
      isRight = col("event_type") === "purchase",
      leftCols = Seq("event_id", "event_type"),
      rightCols = Seq("purchase_id", "purchase_value"),
      tieBreak = Seq("purchase_id"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("purchase_id"), col("purchase_value"))
  }
}
