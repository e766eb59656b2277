package graft

import org.apache.spark.sql.SparkSession

/** Front door: a SparkSession configured with the engine's
  * recommended settings (UTC, AQE, right-sized shuffle parallelism)
  * and the graft SQL functions registered.
  *
  * `shufflePartitions` should track the cluster's total cores (the
  * local default here), not Spark's legacy 200 — at real scale AQE
  * coalesces post-shuffle partitions anyway, but the initial number
  * bounds state-store count for streaming stateful ops.
  *
  * Streaming state-store partitioning is a SEPARATE knob with its own
  * sizing rule (state volume + commit IO, pinned into the checkpoint
  * at first start) — see SCALE.md "Sizing state partitions at 100×"
  * before taking `StreamOps.runToMemory`'s local default of 2 to a
  * cluster.
  *
  * The query bodies read these settings and never set them, so a
  * session built WITHOUT this builder must set, at birth:
  *   - `spark.sql.catalog.graft` = [[graft.sources.bucketed.BucketedCatalog]]
  *     (every `graft.`-qualified bucket-store table);
  *   - `spark.sql.legacy.parquet.nanosAsLong` = true (events.parquet's
  *     TIMESTAMP(NANOS) `ts`, see [[graft.tables.Tables.events]]);
  *   - `spark.sql.sources.v2.bucketing.enabled` = true,
  *     `spark.sql.sources.v2.bucketing.pushPartValues.enabled` = true
  *     and `spark.sql.requireAllClusterKeysForCoPartition` = false
  *     (storage-partitioned joins over the store);
  *   - `spark.sql.session.timeZone` = UTC (the oracle's timestamps);
  *   - `spark.sql.streaming.numRecentProgressUpdates` ≥ the batches of
  *     one `StreamOps.runToMemory` run;
  *   - `spark.locality.wait` = 0s in local mode (see below).
  * The rest (AQE floor, excluded rule, Kryo) are speed settings.
  */
object GraftSession {

  def builder(appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing sizes partitions by BYTES; CPU-heavy stages over
      // small shuffles (text shingling → posting lists: ~1.6 MB of
      // hashes fanning out to ~12 MB of pairs) collapsed to ONE task
      // under the 1 MB default floor, serializing the whole stage on a
      // 32-core session. A lower floor keeps such stages parallel while
      // remaining scale-invariant: with parallelism-first coalescing
      // the target is max(totalBytes / parallelism, THIS FLOOR), so on
      // any shuffle big enough to matter at cluster scale the ratio
      // term dominates and the floor never binds. 256 KB is the
      // measured sweet spot across the suite: 64 KB over-splits the
      // MANY-round iterative shapes (PageRank/CC supersteps re-shuffle
      // a few hundred KB per round — q156 regressed 3.4s → 5.5s from
      // per-task overhead), while 1 MB single-tasks the posting-list
      // pair fan-out (q16 2.9s → 1.1s at 256 KB).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // InferFiltersFromGenerate infers `size(arr) > 0 AND isnotnull(arr)`
      // above each explode; predicate pushdown then substitutes the
      // array's DEFINING EXPRESSION into both conjuncts below the
      // projection, so a computed array (the dedup family's shingle
      // transform: split + n-gram hash + array_distinct per document)
      // is evaluated THREE times per row — twice in the pushed filter,
      // once in the projection (the built-in-expression twin of the
      // optimizer's known UDF-duplication behavior). The inferred
      // filter only helps when rows with empty arrays are common AND
      // the array is cheap; every generate in this engine explodes a
      // computed array on the hot path, where tripling the generator
      // child's cost — at any scale — is strictly worse than feeding
      // the generator a few empty arrays. Results are unaffected (the
      // rule is purely an optimization).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Kryo's single-object serialize() (task results — including the
      // DSv2 commit messages that stage each load task's rows — go
      // through spark.serializer) throws "Buffer overflow" past
      // buffer.max, and the 64 MB default is below what a fat load
      // task can legitimately stage; size it so scale-invariance
      // doesn't hinge on per-task payload staying under a default.
      .config("spark.kryoserializer.buffer.max", "512m")
      .config("spark.ui.enabled", "false")
      // Engine-wide planner settings, fixed at session birth so no
      // query observes different settings depending on what ran before
      // it (individual queries used to flip these mid-session, making
      // bench numbers and plan-shape assertions order-dependent):
      // events.parquet carries TIMESTAMP(NANOS) — readable only as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage-partitioned joins through the bucket catalog
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // let SPJ engage when the join keys are a SUPERSET of the
      // partition keys (e.g. the range join's (user_id, time-bucket)
      // over user_id-bucketed tables): same-key rows are still
      // co-located, so requiring every cluster key to be a partition
      // key only forces a needless Exchange
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // StreamOps.runToMemory's update-mode guard counts data batches
      // in recentProgress, a ring of 100 entries by default: a larger
      // ring keeps a many-batch source from rotating early batches out
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // The bucket store's splits advertise their owning hosts
      // (`host-N` — the simulated cluster's names) as preferred
      // locations. In local mode no executor ever matches them, and
      // Spark's delay scheduling can STARVE a stage that mixes those
      // never-satisfiable preferences with no-preference tasks (one
      // union of a graft-buckets scan branch with a plain branch hung
      // forever: task set added, zero tasks launched). Locality
      // cannot be won on a single node, so waiting for it buys
      // nothing — disable the wait, but ONLY in local mode: on a real
      // cluster the hostnames are real and delay scheduling is what
      // turns preferredLocations into node-local bucket reads, so the
      // cluster's own setting (default 3s) must survive untouched.
      .config("spark.sql.catalog.graft",
        classOf[graft.sources.bucketed.BucketedCatalog].getName)
    if (master.startsWith("local")) b.config("spark.locality.wait", "0s") else b
  }

  /** Build the session and register graft_cosine / graft_dot etc. */
  def create(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Register every testdata table under `dir` as a temp view so the
    * full engine surface is reachable from plain `spark.sql(...)`.
    * Idempotent per (session, dir): re-registering would re-run parquet
    * schema inference for all tables (~1s of driver time per call).
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    val marker = "graft.registered.dir"
    if (spark.conf.getOption(marker).contains(dir)) return
    graft.tables.Tables.names.foreach { n =>
      val df =
        if (n == "events") graft.tables.Tables.events(spark, dir)
        else graft.tables.Tables.load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    spark.conf.set(marker, dir)
  }
}
