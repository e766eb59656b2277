package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftMaterialize.{broadcastable, materialize}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tables.Tables

/** Skew mitigation utilities.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`,
  * on by default) splits oversized sort-merge partitions at runtime;
  * these helpers cover what AQE does not: skewed *aggregation* keys
  * with large reduce-side state, and hash joins where one hot key
  * floods a single task.
  *
  * Both use the standard salt pattern: spread each hot key over
  * `salts` sub-keys, do the heavy operation per (key, salt), then
  * combine. The join result is independent of how rows are salted, so
  * determinism is preserved.
  */
object Skew {

  /** Two-phase aggregation for skewed group keys: partial aggregate on
    * (key, salt), final aggregate on key. The aggregate must be
    * decomposable, expressed as its two phases — e.g.
    * `saltedAggregate(df, $"k", 16, sum, sum, $"v", "total")`.
    *
    * CONTRACT — how rows spread across salts:
    *   - Default (`saltCol = None`): the salt hashes the WHOLE row's
    *     content. Value-only hashing puts a hot key's rows in one
    *     bucket when the value is constant (counting `lit(1)`), and
    *     row-position ids (`monotonically_increasing_id`) are not
    *     stable under partial stage recomputation — a fetch-failure
    *     retry could re-salt rows differently from the already-fetched
    *     map outputs and silently corrupt the aggregate (the
    *     SPARK-23207 class). Full-row content hashing is deterministic
    *     AND spreads — but ONLY across distinct rows: bytewise-
    *     identical duplicates of a hot key (e.g. a frame pre-projected
    *     to the key alone) all land in one salt bucket and stay
    *     skewed.
    *   - For such inputs pass `saltCol = Some(c)` where `c` is a
    *     STABLE, roughly-unique discriminator the caller owns — a
    *     source row id, `input_file_name()` + offset, a pre-assigned
    *     uuid column. It must be deterministic under recomputation
    *     (same row ⇒ same value), which is exactly what position ids
    *     are not.
    */
  def saltedAggregate(df: DataFrame, key: Column, salts: Int,
      partial: Column => Column, finalAgg: Column => Column, valueCol: Column,
      outName: String, saltCol: Option[Column] = None): DataFrame = {
    val discriminator = saltCol.getOrElse(hash(df.columns.map(col).toIndexedSeq: _*))
    df.withColumn("__salt", pmod(hash(discriminator), lit(salts)))
      .groupBy(key.as("k"), col("__salt"))
      .agg(partial(valueCol).as("__part"))
      .groupBy(col("k"))
      .agg(finalAgg(col("__part")).as(outName))
  }

  /** Skewed equi-join: replicate the build side `salts` times, salt
    * each probe row into one replica, join on (key, salt). Every hot
    * probe key now spreads over `salts` tasks; the build side pays a
    * `salts`× replication (it must be the smaller side).
    *
    * CONTRACT — probe salt: unlike [[saltedAggregate]], the join
    * RESULT is salt-independent (every salt value meets the same
    * replicated build rows), so a recompute-unstable discriminator
    * cannot corrupt output — it only determines load balance. The
    * default position-id salt spreads even bytewise-identical
    * duplicate rows; pass `saltCol` (a stable row id) when you also
    * need the salt — and therefore the task-level row placement — to
    * be reproducible across retries (e.g. debugging a straggler).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: String, buildKey: String,
      salts: Int, saltCol: Option[Column] = None): DataFrame = {
    val saltDf = build.sparkSession.range(salts.toLong)
      .select(col("id").cast("int").as("__bsalt"))
    val saltedBuild = build.crossJoin(saltDf)
    val discriminator = saltCol.getOrElse(monotonically_increasing_id())
    val saltedProbe = probe.withColumn("__psalt",
      pmod(hash(col(probeKey), discriminator), lit(salts)))
    // dataframe-qualified key refs: with probeKey == buildKey (the
    // common case) bare col() would be AMBIGUOUS_REFERENCE
    val joined = saltedProbe.join(saltedBuild,
        saltedProbe(probeKey) === saltedBuild(buildKey) && col("__psalt") === col("__bsalt"))
      .drop("__psalt", "__bsalt")
    if (probeKey == buildKey) joined.drop(saltedBuild(buildKey)) else joined
  }

  /** Measured key-frequency skew, produced by [[analyzeSkew]].
    * `hotKeys` are the (non-null) keys whose individual share of
    * `totalRows` reached the caller's threshold — at most
    * ⌊1/threshold⌋ can exist, so the collect is bounded by
    * construction. `salts` is the factor the salted fallback would
    * use: enough sub-keys that the hottest key's rows spread to
    * roughly its fair share of the shuffle partitions.
    */
  final case class SkewDecision(
      totalRows: Long,
      hotKeys: Seq[Any],
      hotShare: Double,
      salts: Int) {
    def isSkewed: Boolean = hotKeys.nonEmpty
  }

  /** Measure key skew with an EXACT frequency pass: one map-side-
    * combined `groupBy(key).count()` (shuffle volume ∝ distinct keys
    * per map task, never rows) plus a column-pruned `count()`. Exact
    * counting is chosen over row sampling deliberately: deterministic
    * hash-sampling is all-or-nothing per distinct row, so a hot key
    * whose duplicates are BYTEWISE IDENTICAL (the common skew shape —
    * a default value, an empty string, a sentinel id) is either fully
    * sampled or invisible, which is exactly the key such a pass must
    * not miss. The exact pass costs one scan of the key column; the
    * join it protects costs far more.
    *
    * Only keys at or above `shareThreshold` of all rows count as hot
    * (so at most ⌊1/shareThreshold⌋ keys return — bounded driver
    * memory), capped at `maxHot` hottest. NULL keys are never hot:
    * an inner equi-join drops them, so spreading them buys nothing.
    */
  def analyzeSkew(df: DataFrame, key: Column,
      shareThreshold: Double = 0.1, maxHot: Int = 64): SkewDecision = {
    require(shareThreshold > 0 && shareThreshold <= 1,
      s"shareThreshold must be in (0, 1], got $shareThreshold")
    val total = df.count()
    if (total == 0) return SkewDecision(0L, Nil, 0.0, 1)
    val minCnt = math.max(1L, math.ceil(shareThreshold * total).toLong)
    // TakeOrderedAndProject, not a global sort: limit + orderBy plans
    // a per-partition top-k merged on the driver
    val hot = df.groupBy(key.as("__k"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCnt && col("__k").isNotNull)
      .orderBy(col("__cnt").desc)
      .limit(maxHot)
      .collect()
    val share = hot.map(_.getLong(1)).sum.toDouble / total
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val salts = math.min(parts, math.max(2, math.ceil(share * parts).toInt))
    SkewDecision(total, hot.map(_.get(0)).toIndexedSeq, share, salts)
  }

  /** Statistics-driven skewed inner equi-join: measure probe-key
    * frequencies ([[analyzeSkew]]), then pick the plan the statistics
    * justify instead of making the caller guess a salt factor:
    *
    *   - no key reaches `shareThreshold` → plain shuffle join, zero
    *     overhead added;
    *   - hot keys exist and their build rows — materialized once, so
    *     their size is measured — fit `spark.sql.autoBroadcastJoinThreshold`
    *     → SPLIT join: the hot slice joins against a BROADCAST of just
    *     the hot build rows (hot probe rows never shuffle at all — the
    *     strongest skew fix, better than any salt factor), the cold
    *     slice takes the ordinary shuffle join, results union;
    *   - hot build rows too large to broadcast (a skewed MANY-to-many)
    *     → the hot slice falls back to [[saltedJoin]] with the
    *     measured salt factor.
    *
    * The result is plan-independent — identical rows whichever branch
    * the statistics pick (inner-join semantics drop NULL probe keys on
    * every path). At 100 TB the two stat jobs read one column of the
    * probe, and the hot build rows are computed once for both the
    * size decision and the join; AQE's skew-join split solves the same
    * problem only for sort-merge partitions, not for the
    * broadcast-vs-salt choice or aggregation feeding the join.
    */
  def adaptiveJoin(probe: DataFrame, build: DataFrame, probeKey: String, buildKey: String,
      shareThreshold: Double = 0.1, saltCol: Option[Column] = None): DataFrame =
    adaptiveJoinWith(probe, build, probeKey, buildKey,
      analyzeSkew(probe, col(probeKey), shareThreshold), saltCol)

  /** [[adaptiveJoin]] with the decision supplied — the spec hook that
    * makes the chosen branch observable and reproducible.
    */
  def adaptiveJoinWith(probe: DataFrame, build: DataFrame, probeKey: String, buildKey: String,
      decision: SkewDecision, saltCol: Option[Column] = None): DataFrame = {
    def plain(p: DataFrame, b: DataFrame): DataFrame = {
      val j = p.join(b, p(probeKey) === b(buildKey))
      if (probeKey == buildKey) j.drop(b(buildKey)) else j
    }
    if (!decision.isSkewed) return plain(probe, build)
    val hot = decision.hotKeys
    val probeHot = probe.filter(col(probeKey).isin(hot: _*))
    // NULL probe keys evaluate `!isin` to NULL and drop — exactly the
    // rows an inner equi-join discards anyway
    val probeCold = probe.filter(!col(probeKey).isin(hot: _*))
    val buildHot = materialize(build.filter(col(buildKey).isin(hot: _*)), "skew_build_hot")
    val hotJoined =
      if (broadcastable(buildHot)) {
        // a materialized side: the planner broadcasts it by its recorded size
        val j = probeHot.join(buildHot, probeHot(probeKey) === buildHot(buildKey))
        if (probeKey == buildKey) j.drop(buildHot(buildKey)) else j
      } else saltedJoin(probeHot, buildHot, probeKey, buildKey, decision.salts, saltCol)
    hotJoined.unionByName(plain(probeCold, build))
  }

  /** q130 — gated adaptive skew join: 90% of lineitem rows collapse
    * onto one synthetic key, the dimension is the distinct keys with a
    * derived tag, and the statistics must route the hot slice through
    * the broadcast branch while the cold tail shuffles. The aggregate
    * after the join makes the oracle comparison order-free.
    */
  def adaptiveJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val probe = Tables.lineitem(spark, dir).select(
      when(col("l_orderkey") % 10 =!= 0, lit(0L))
        .otherwise(col("l_orderkey")).as("k"),
      col("l_quantity"))
    val build = probe.select(col("k")).distinct()
      .withColumn("tag", col("k") % 7)
    adaptiveJoin(probe, build, "k", "k")
      .groupBy(col("tag"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("total_qty"),
        count(lit(1)).as("n_rows"))
  }

  val adaptiveJoinSql: String =
    """WITH probe AS (
      |  SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 0 ELSE l_orderkey END AS k,
      |         l_quantity
      |  FROM lineitem),
      |build AS (SELECT DISTINCT k, k % 7 AS tag FROM probe)
      |SELECT tag,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
      |  count(*) AS n_rows
      |FROM probe JOIN build USING (k)
      |GROUP BY tag""".stripMargin
}
