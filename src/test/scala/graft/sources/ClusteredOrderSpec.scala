package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.BucketStore

/** Reported per-partition output ordering
  * ([[graft.sources.bucketed.BucketedScan.outputOrdering]]): a
  * key-clustered bucket table's scan claims its sorted layout, so a
  * co-bucketed sort-merge join plans with ZERO Exchange and ZERO Sort.
  */
class ClusteredOrderSpec extends SparkSuite {
  import spark.implicits._

  test("key-clustered co-bucketed SMJ: zero Exchange, zero Sort, exact rows") {
    val a = (1 to 500).map(i => (i.toLong, i * 2)).toDF("k", "x")
    val b = (1 to 500).map(i => (i.toLong, s"n$i")).toDF("k", "y")
    BucketStore.drop("ord_a"); BucketStore.drop("ord_b")
    BucketStore.load(spark, "ord_a", a, "k", 8, clusterBy = Some("k"))
    BucketStore.load(spark, "ord_b", b, "k", 8, clusterBy = Some("k"))
    val j = spark.table("graft.`ord_a`").hint("merge")
      .join(spark.table("graft.`ord_b`"), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("Exchange"), s"co-bucketed SMJ must not shuffle:\n${plan.take(1500)}")
    assert(!plan.contains("Sort "), s"reported ordering must elide the Sorts:\n${plan.take(1500)}")
    // rows are exactly the expected join, not an artifact of a wrong
    // ordering claim (SMJ silently drops matches if order lies)
    val got = j.select("k", "x", "y").as[(Long, Int, String)].collect().sortBy(_._1)
    assert(got.length === 500)
    assert(got.toSeq === (1 to 500).map(i => (i.toLong, i * 2, s"n$i")))
  }

  test("string cluster order is Spark's UTF-8 binary order, not Java's UTF-16 code units") {
    // U+1F600 (surrogate pair) vs U+FFFD: UTF-16 code-unit order puts
    // the pair FIRST (0xD83D < 0xFFFD), Spark's code-point order puts
    // it LAST (0x1F600 > 0xFFFD) — the divergence a lying ordering
    // claim would export
    val vals = Seq("😀grin", "�repl", "plain", "zz")
    val df = vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("k", "s")
    BucketStore.drop("ord_utf8")
    BucketStore.load(spark, "ord_utf8", df, "k", 1, clusterBy = Some("s"))
    val got = spark.table("graft.`ord_utf8`").orderBy(col("s")).select("s")
      .as[String].collect().toSeq
    val sparkTruth = vals.toDF("s").orderBy(col("s")).as[String].collect().toSeq
    assert(got === sparkTruth, "stored cluster order must match Spark's string order")
  }

  test("ordering claim guards: unclustered tables keep their Sorts; TopN answers stay exact") {
    val a = (1 to 300).map(i => (i.toLong, i)).toDF("k", "x")
    BucketStore.drop("ord_plain")
    BucketStore.load(spark, "ord_plain", a, "k", 8) // NOT clustered
    val j = spark.table("graft.`ord_plain`").as("l").hint("merge")
      .join(spark.table("graft.`ord_plain`").as("r"), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("Sort "), s"no cluster order → Spark must sort:\n${plan.take(1500)}")
    assert(j.count() === 300L)
    // clustered table + pushed TopN: the heap re-orders the stream, so
    // the scan must not claim ordering there — the answer stays exact
    BucketStore.drop("ord_topn")
    BucketStore.load(spark, "ord_topn", a, "k", 8, clusterBy = Some("k"))
    val top = spark.table("graft.`ord_topn`")
      .orderBy(col("x").desc).limit(3).select("k").as[Long].collect()
    assert(top.toSeq === Seq(300L, 299L, 298L))
  }
}
