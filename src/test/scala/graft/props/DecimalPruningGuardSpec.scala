package graft.sources.bucketed

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The int32 narrowing in the decimal row-group pruner must be
  * PROVABLE, not contingent (round 20): precision ≤ 9 decimals are
  * unscaled-int32 physical, and Spark's analysis normally guarantees
  * pushed literals fit — but the pruner is also callable directly, so
  * a literal whose rescaled unscaled value leaves Int range must BAIL
  * the conjunct (no predicate) rather than wrap into one that prunes
  * matching row groups.
  */
class DecimalPruningGuardSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("p", DecimalType(9, 2))))
  private def bd(s: String) = new java.math.BigDecimal(s)

  test("out-of-int-range rescaled literals bail the int32 decimal conjunct") {
    // unscaled at scale 2 = 9_999_999_999_900 — far past Int.MaxValue
    assert(ParquetPruning.predicate(schema, Array(LessThan("p", bd("99999999999.00")))).isEmpty)
    assert(ParquetPruning.predicate(schema,
      Array(GreaterThan("p", bd("-99999999999.00")))).isEmpty)
    // boundary: Int.MaxValue/100 rescales to exactly Int.MaxValue-ish
    assert(ParquetPruning.predicate(schema, Array(EqualTo("p", bd("21474836.47")))).nonEmpty,
      "unscaled == Int.MaxValue still converts")
    assert(ParquetPruning.predicate(schema, Array(EqualTo("p", bd("21474836.48")))).isEmpty,
      "unscaled == Int.MaxValue + 1 must bail")
  }

  test("in-range literals still build predicates; scale mismatch still bails") {
    assert(ParquetPruning.predicate(schema, Array(LessThan("p", bd("123.45")))).nonEmpty)
    // a literal not representable at the column scale bails (pre-existing contract)
    assert(ParquetPruning.predicate(schema, Array(EqualTo("p", bd("1.005")))).isEmpty)
  }

  test("compiled decimal In probe never throws on finer-than-column-scale heap rows") {
    // a row holding a finer scale than the column declares reads as the
    // scan serves it: rounded HALF_UP to the column scale, as Spark's
    // own conversion of the stored value rounds it (the store's writers
    // take Spark's rows, whose decimals are already at the column scale)
    val s18 = StructType(Seq(StructField("p", DecimalType(18, 2))))
    val probe = VectorFilterEval.rows(s18, Array(In("p", Array(bd("1.00"), bd("2.00")))))
    assert(!probe(org.apache.spark.sql.Row(bd("1.005"))),
      "1.005 reads as 1.01 — not in the list")
    assert(probe(org.apache.spark.sql.Row(bd("2.000"))),
      "a finer REPRESENTATION of a member (2.000) still matches")
    assert(VectorFilterEval.rows(s18, Array(In("p", Array(bd("1.01")))))(
      org.apache.spark.sql.Row(bd("1.005"))), "the filter sees the value the scan serves")
    // the column's widest value: an unscaled long near its limit
    assert(!probe(org.apache.spark.sql.Row(bd("9999999999999999.99"))))
  }

  test("FLBA decimals (p > 18) probe In by canonical value — row path, wide scales, big unscaled") {
    val s25 = StructType(Seq(StructField("bm", DecimalType(25, 4))))
    val big = new java.math.BigDecimal("123456789012345678901.2345")
    val probe = VectorFilterEval.rows(s25, Array(In("bm", Array(big, bd("7.0000")))))
    assert(probe(org.apache.spark.sql.Row(big)))
    // value-equal at a WIDER representation scale is still a member
    assert(probe(org.apache.spark.sql.Row(big.setScale(8))))
    assert(probe(org.apache.spark.sql.Row(bd("7.00"))))
    assert(!probe(org.apache.spark.sql.Row(big.add(bd("0.0001")))))
  }

  test("v2 bloom prunes FLBA-decimal equality; a legacy v1 sketch stays conservative") {
    val s25 = StructType(Seq(StructField("bm", DecimalType(25, 4))))
    val base = new java.math.BigInteger("4611686018427387904") // 2^62: past the v1 hash bail
    def v(off: Long) = new java.math.BigDecimal(base.add(java.math.BigInteger.valueOf(off)), 4)
    val rows = (0 until 64).map(i => org.apache.spark.sql.Row(v(i * 7L))).toArray
    val stats = BucketSkip.statsOver(s25, rows, "bm").get
    assert(stats.hashV === BucketSkip.SketchHashV, "fresh sketches stamp the current hash")
    assert(stats.bloom != null, "big decimals are sketchable under the v2 hash")
    // members pass, including value-equal wider-scale representations
    assert(BucketSkip.mayMatch(s25, rows, EqualTo("bm", v(35L))))
    assert(BucketSkip.mayMatch(s25, rows, EqualTo("bm", v(35L).setScale(6))))
    // an absent value INSIDE the min/max band prunes via the bloom —
    // the new capability (v1 bailed past 62-bit unscaled: no claim)
    assert(!BucketSkip.mayMatch(s25, rows, EqualTo("bm", v(3L))),
      "a within-band absent big decimal must prune via the v2 bloom")
    // the SAME bits probed as a legacy v1 sketch must NOT claim: a
    // v1 build never set bits for big values, so pruning on them
    // against a persisted pre-round-20 sketch would be wrong
    val legacy = stats.copy(hashV = 1)
    assert(BucketSkip.mayMatch(s25, (_: String) => Some(Seq(legacy)), EqualTo("bm", v(3L))),
      "a v1-stamped sketch must stay conservative for big decimals")
  }
}
