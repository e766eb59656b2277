package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** Round-13 (verdict task 4): the q233 continuous-DML shape, with the
  * auto-compaction MECHANICS pinned — the gated query proves answers
  * stay hash-green through a mid-run policy fire; this spec proves the
  * fire actually happened (pending state folded to zero without any
  * `CALL compact`) and that the fold published as its own version.
  */
class AutoCompactGateSpec extends SparkSuite {
  import spark.implicits._

  test("q233 shape: batch 1 leaves MoR pending, batch 2 trips the policy and folds, batch 3 rides the fresh base") {
    val name = "autoc_spec"
    BucketStore.drop(name)
    // 2000 rows; policy knobs scaled so the spec mirrors q233's
    // below-then-above trajectory at spec size (save/restore — the
    // knobs are deployment tunables, @volatile by design)
    val oldRatio = BucketStore.autoCompactRatioPct
    val oldMin = BucketStore.autoCompactMinRows
    try {
      BucketStore.autoCompactRatioPct = 20
      BucketStore.autoCompactMinRows = 256
      BucketStore.load(spark, name,
        (1 to 2000).map(i => (i.toLong, i % 50, "x")).toDF("k", "q", "tag"), "k", 8)
      BucketStore.setDmlMode(name, BucketStore.MergeOnRead)

      // batch 1: 2% of rows → pending = 2·40 = 80 < minRows floor
      spark.sql(s"UPDATE graft.`$name` SET q = q + 100 WHERE q = 1")
      assert(BucketStore.get(name).mor.nonEmpty,
        "below-policy DML must leave merge-on-read state pending")
      val vAfter1 = BucketStore.currentVersion(name)

      // batch 2: ~18% more → pending = 80 + 2·360 = 800 ≥ 256 and
      // ≥ 20% of 2000 → the commit itself must fold the table
      spark.sql(s"UPDATE graft.`$name` SET q = q + 100 WHERE q <= 9")
      val t = BucketStore.get(name)
      assert(t.mor.isEmpty,
        "policy crossing must auto-compact in the same statement (no CALL compact ran)")
      // fold-down is its own published version on top of the delta commit
      assert(BucketStore.currentVersion(name) === vAfter1 + 2,
        "expected delta publish + compaction publish")

      // batch 3 writes through the folded base; answers exact
      spark.sql(s"DELETE FROM graft.`$name` WHERE k <= 100")
      val got = spark.table(s"graft.`$name`")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s")).head()
      val expected = (101 to 2000).map(i => { val q = i % 50; if (q <= 9) q + 100 else q }).sum
      assert(got.getLong(0) === 1900L)
      assert(got.getLong(1) === expected.toLong)
    } finally {
      BucketStore.autoCompactRatioPct = oldRatio
      BucketStore.autoCompactMinRows = oldMin
    }
  }

  test("policy floor holds: small tables never re-materialize on point DML") {
    val name = "autoc_floor"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 100).map(i => (i.toLong, i)).toDF("k", "v"), "k", 4)
    BucketStore.setDmlMode(name, BucketStore.MergeOnRead)
    // 50% pending ratio but far under the default 4096-row floor
    spark.sql(s"UPDATE graft.`$name` SET v = v + 1 WHERE k <= 25")
    assert(BucketStore.get(name).mor.nonEmpty,
      "the row floor must keep small tables from re-materializing per statement")
  }
}
