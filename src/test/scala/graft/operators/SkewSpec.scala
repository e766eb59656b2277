package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Salting preserves results: salted ops must equal their unsalted
  * equivalents on skewed data (one key holding 90% of rows).
  */
class SkewSpec extends SparkSuite {
  import spark.implicits._

  private lazy val skewed =
    ((1 to 900).map(i => ("hot", i.toDouble)) ++ (1 to 100).map(i => (s"k$i", i.toDouble)))
      .toDF("k", "v")

  test("saltedAggregate equals plain aggregation on skewed keys") {
    val salted = Skew.saltedAggregate(skewed, col("k"), 16, sum, sum, col("v"), "total")
      .as[(String, Double)].collect().toMap
    val plain = skewed.groupBy("k").agg(sum("v").as("total"))
      .as[(String, Double)].collect().toMap
    assert(salted === plain)
  }

  test("saltedAggregate with a CONSTANT value column still spreads and counts right") {
    // the worst case the salt must handle: counting lit(1) — value-hash
    // salting would collapse the hot key into one bucket
    val salted = Skew.saltedAggregate(skewed, col("k"), 16,
        c => sum(c), c => sum(c), lit(1L), "cnt")
      .as[(String, Long)].collect().toMap
    assert(salted("hot") === 900L && salted("k1") === 1L)
    // the salt expression itself (full-row content hash) spreads the
    // hot key's 900 distinct rows over many buckets
    val buckets = skewed.filter(col("k") === "hot")
      .select(pmod(hash(skewed.columns.map(col).toIndexedSeq: _*), lit(16)).as("s"))
      .distinct().count()
    assert(buckets > 8, s"expected the hot key spread over >8 of 16 buckets, got $buckets")
  }

  test("saltedJoin equals plain join on a hot key") {
    val build = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("bk", "tag")
    val salted = Skew.saltedJoin(skewed, build, "k", "bk", 8)
      .select("k", "v", "tag").as[(String, Double, String)].collect().sorted.toSeq
    val plain = skewed.join(build, col("k") === col("bk"))
      .select("k", "v", "tag").as[(String, Double, String)].collect().sorted.toSeq
    assert(salted === plain)
    assert(salted.count(_._1 == "hot") === 900)
  }

  test("analyzeSkew finds the 90% key, ignores null keys, bounds the collect") {
    val withNulls = skewed.union(Seq.fill(50)((null: String, 0.0)).toDF("k", "v"))
    val d = Skew.analyzeSkew(withNulls, col("k"), shareThreshold = 0.1)
    assert(d.isSkewed)
    assert(d.hotKeys === Seq("hot"), "only the 90% key is hot; nulls never are")
    assert(d.totalRows === 1050L)
    assert(math.abs(d.hotShare - 900.0 / 1050.0) < 1e-9)
    assert(d.salts >= 2)
    val flat = Skew.analyzeSkew((1 to 100).map(i => (s"k$i", i)).toDF("k", "v"), col("k"))
    assert(!flat.isSkewed, "a flat distribution must pick the plain plan")
  }

  test("adaptiveJoin on a 90%-one-key probe picks the split plan and matches the plain join") {
    val build = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("bk", "tag")
    val decision = Skew.analyzeSkew(skewed, col("k"))
    assert(decision.isSkewed && decision.hotKeys === Seq("hot"))
    val adaptive = Skew.adaptiveJoinWith(skewed, build, "k", "bk", decision)
    // the chosen plan: a union of a BroadcastHashJoin (hot slice, no
    // shuffle of the 900 hot rows) and an ordinary join (cold tail)
    val physical = adaptive.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"hot slice must join via broadcast, got:\n$physical")
    assert(physical.contains("Union"), "split plan unions hot and cold slices")
    val got = adaptive.select("k", "v", "tag")
      .as[(String, Double, String)].collect().sorted.toSeq
    val plain = skewed.join(build, col("k") === col("bk"))
      .select("k", "v", "tag").as[(String, Double, String)].collect().sorted.toSeq
    assert(got === plain)
    assert(got.count(_._1 == "hot") === 900)
  }

  test("adaptiveJoin falls back to the salted plan when hot build rows exceed the broadcast cap") {
    val build = ((1 to 40).map(i => ("hot", s"H$i")) ++ Seq(("k1", "A"), ("k2", "B")))
      .toDF("bk", "tag")
    val decision = Skew.analyzeSkew(skewed, col("k"))
    // 40 hot build rows measure ~1.3 KB: a 100-byte threshold refuses them
    val adaptive = withBroadcastThreshold("100") {
      Skew.adaptiveJoinWith(skewed, build, "k", "bk", decision)
    }
    assert(adaptive.queryExecution.executedPlan.toString.contains("__bsalt"),
      "the hot slice must take the salted join")
    val plain = skewed.join(build, col("k") === col("bk"))
      .select("k", "v", "tag").as[(String, Double, String)].collect().sorted.toSeq
    val got = adaptive.select("k", "v", "tag")
      .as[(String, Double, String)].collect().sorted.toSeq
    assert(got === plain)
    assert(got.count(_._1 == "hot") === 900 * 40, "many-to-many hot slice must survive salting")
  }

  test("adaptiveJoin: identical rows on the split (broadcast) and salted (shuffle) sides") {
    val build = Seq(("hot", "H"), ("hot", "H2"), ("k1", "A"), ("k2", "B")).toDF("bk", "tag")
    def run(): (String, Seq[(String, Double, String)]) = {
      val j = Skew.adaptiveJoin(skewed, build, "k", "bk")
      (j.queryExecution.executedPlan.toString,
        j.select("k", "v", "tag").as[(String, Double, String)].collect().sorted.toSeq)
    }
    val (splitPlan, split) = run()
    val (saltedPlan, salted) = withBroadcastThreshold("-1")(run())
    assert(!splitPlan.contains("__bsalt") && saltedPlan.contains("__bsalt"))
    assert(split.size === 1802 && split === salted)
  }

  test("adaptiveJoin without skew takes the plain join and matches it") {
    val probe = (1 to 200).map(i => (i.toLong % 50, i)).toDF("user_id", "x")
    val build = (0L until 50L).map(i => (i, s"t$i")).toDF("user_id", "tag")
    val got = Skew.adaptiveJoin(probe, build, "user_id", "user_id")
    assert(got.columns.count(_ == "user_id") === 1)
    assert(got.count() === 200L)
  }

  test("saltedJoin works when both sides share the key name (the natural call)") {
    val probe = (1 to 200).map(i => (i.toLong % 3, i)).toDF("user_id", "x")
    val build = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("user_id", "tag")
    val got = Skew.saltedJoin(probe, build, "user_id", "user_id", salts = 4)
    assert(got.columns.count(_ == "user_id") === 1, "duplicate key column must be dropped")
    assert(got.count() === 200L)
    assert(got.filter(col("tag") === "b").count() ===
      probe.filter(col("user_id") === 1L).count())
  }

  test("ivf knn finds mostly the same neighbors as brute force") {
    val emb = graft.tables.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val brute = Similarity.bruteForceKnn(
        emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")), q, 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(emb, q, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.4, s"recall $recall") // nprobe/nlist = 1/2 of lists scanned
  }
}
