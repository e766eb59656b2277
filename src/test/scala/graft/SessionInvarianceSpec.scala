package graft

/** A query body never leaves the session conf changed: the settings
  * are fixed once, by [[GraftSession.builder]], and the streaming
  * harness's swaps (`StreamOps.withSessionConf`) are restored when a
  * run ends. A body that set a session key would change every query
  * after it. These queries read the bucket catalog, storage-partitioned
  * joins, `nanosAsLong` data and per-read CSV options, and run both
  * streaming swaps.
  */
class SessionInvarianceSpec extends SparkSuite {

  private val queries = Seq(
    "q42_copartition_join", "q87_asof_spj", "q88_range_spj", "q218_csv_modes",
    "q37_stream_wordcount", "q60_transform_with_state", "q244_pair_artifact_extend")

  test("running the queries one after another leaves the session conf unchanged") {
    val before = spark.conf.getAll
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, sf).collect()
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      assert(changed.isEmpty,
        s"$q changed the session conf: " +
          changed.toSeq.sorted.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
    }
  }
}
