package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.bucketed._

/** The batch read paths under extreme values: IEEE specials, integral
  * extrema, empty/multibyte strings, epoch-boundary timestamps — the
  * hot page views and the cold vectorized decode must both agree
  * bit-for-bit with the store's own fold ([[ScanReference]]), NaN bits
  * included.
  */
class ColumnarExtremesSpec extends SparkSuite {
  import spark.implicits._

  test("extreme values roundtrip identically through both read paths") {
    BucketStore.drop("colx_t")
    val rows = Seq(
      (0L, Double.NaN, Long.MinValue, "", false,
        new java.sql.Timestamp(0L)),
      (1L, Double.PositiveInfinity, Long.MaxValue, "multi-byte αβγ", true,
        new java.sql.Timestamp(-1L)),
      (2L, Double.NegativeInfinity, -1L, "a b", false,
        java.sql.Timestamp.valueOf("2262-01-01 00:00:00")),
      (3L, -0.0, 0L, " leading and trailing ", true,
        java.sql.Timestamp.valueOf("1677-09-22 00:00:00")),
      (4L, Double.MinPositiveValue, 42L, "plain", false,
        new java.sql.Timestamp(1700000000123L)))
    BucketStore.load(spark, "colx_t",
      rows.toDF("k", "d", "l", "s", "b", "ts"), "k", 2)
    def scan() = spark.read.format("graft-buckets").option("table", "colx_t").load()
    def read() = scan().orderBy("k").collect().map(_.toSeq)
    def fold() = ScanReference.fold(spark, "colx_t")
    val want = fold().orderBy("k").collect().map(_.toSeq)
    val viaCol = read()
    assert(viaCol.length === 5)
    want.zip(viaCol).zipWithIndex.foreach { case ((r, c), i) =>
      r.zip(c).foreach {
        case (a: Double, b: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(a) ===
            java.lang.Double.doubleToRawLongBits(b), s"row $i double bits diverge: $a vs $b")
        case (a, b) => assert(a === b, s"row $i field diverges: $a vs $b")
      }
    }
    // and a filter over the specials agrees (NaN semantics ride the
    // engine, not the reader — the scan must feed it identical bits)
    assert(scan().filter(isnan(col("d"))).count() === fold().filter(isnan(col("d"))).count())

    // COLD: the DIRECT vectorized parquet path must hand back the same
    // bits (different decode entirely — parquet pages, not the heap
    // page views), unfiltered and with pushed filters over the specials
    BucketStore.registerStatColumns("colx_t", Seq("d", "l", "s"))
    BucketStore.refreshManifestStats("colx_t")
    BucketStore.evictTable("colx_t")
    val vr0 = FileStore.vectorReads.get()
    val cold = read()
    assert(FileStore.vectorReads.get() > vr0, "the cold read must be vectorized")
    want.zip(cold).foreach { case (r, c) =>
      r.zip(c).foreach {
        case (a: Double, b: Double) =>
          assert(java.lang.Double.doubleToRawLongBits(a) ===
            java.lang.Double.doubleToRawLongBits(b))
        case (a, b) => assert(a === b)
      }
    }
    // pushed filters over specials on the cold path: -0.0 == 0.0 for
    // SQL comparisons, NaN matches nothing ordered, byte-order strings
    def coldFiltered(p: org.apache.spark.sql.Column): Set[Long] = {
      BucketStore.evictTable("colx_t")
      scan().filter(p).collect().map(_.getLong(0)).toSet
    }
    assert(coldFiltered(col("d") === 0.0) === Set(3L), "-0.0 must equal 0.0 on the cold path")
    assert(coldFiltered(col("d") > 0.0) === Set(0L, 1L, 4L),
      "NaN is LARGEST in Spark's total order — an order compare must keep it")
    assert(coldFiltered(col("l") <= 0L) === Set(0L, 2L, 3L))
    assert(coldFiltered(col("s").startsWith("multi")) === Set(1L))
    assert(coldFiltered(col("ts") < new java.sql.Timestamp(0L)) === Set(1L, 3L))
    BucketStore.drop("colx_t")
  }
}
