package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed.BucketStore

/** Named snapshot tags: `CALL graft.tag` + symbolic `VERSION AS OF`. */
class SnapshotTagSpec extends SparkSuite {
  import spark.implicits._

  private def init(): String = {
    val name = "tagged"
    BucketStore.drop(name)
    BucketStore.load(spark, name, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "k", numBuckets = 2)
    name
  }

  test("tag names the current version; VERSION AS OF resolves it after later writes") {
    val name = init()
    val v = spark.sql(s"CALL graft.tag('$name', 'release-v1')")
      .select(col("version")).as[Long].head()
    assert(v == BucketStore.get(name).version)
    Seq((3L, "c")).toDF("k", "s").writeTo(s"graft.`$name`").append()
    assert(spark.table(s"graft.`$name`").count() == 3)
    val atTag = spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF 'release-v1'")
    assert(atTag.count() == 2, "tag must pin the pre-append snapshot")
    // numeric travel still works alongside
    assert(spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF $v").count() == 2)
    BucketStore.drop(name)
  }

  test("unknown tags fail loudly, listing the known ones; numeric names are rejected") {
    val name = init()
    spark.sql(s"CALL graft.tag('$name', 'good')").collect()
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF 'nope'").collect()
    }
    assert(e.getMessage.contains("known tag") && e.getMessage.contains("good"),
      s"unhelpful error: ${e.getMessage}")
    intercept[Exception] { BucketStore.setTag(name, "123") }
    BucketStore.drop(name)
  }

  test("a tag does not pin retention: vacuum past it makes resolution loud") {
    val name = init()
    spark.sql(s"CALL graft.tag('$name', 'old')").collect()
    // two more versions, then keep only the newest
    Seq((3L, "c")).toDF("k", "s").writeTo(s"graft.`$name`").append()
    Seq((4L, "d")).toDF("k", "s").writeTo(s"graft.`$name`").append()
    spark.sql(s"CALL graft.vacuum('$name', 1)").collect()
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF 'old'").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(m =>
        m.contains("not retained") || m.contains("retained"))),
      s"vacuumed tag read failed without the retention message: ${e.getMessage}")
    BucketStore.drop(name)
  }

  test("tagging a non-retained version is rejected at tag time") {
    val name = init()
    intercept[IllegalArgumentException] {
      BucketStore.setTag(name, "ghost", Some(999999L))
    }
    BucketStore.drop(name)
  }
}
