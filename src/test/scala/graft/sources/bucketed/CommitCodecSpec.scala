package graft.sources.bucketed

import java.math.BigDecimal

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The commit messages' typed payload codec (r22) replaces generic
  * Kryo/Java serialization on the write path's task-result hop — the
  * one place a corrupted round-trip would silently corrupt every
  * loaded table. These specs drive BOTH serialization hooks (plain
  * Java, which the test sessions use, and Kryo, which GraftSession
  * installs) over every fast-path type, the null/fallback markers,
  * and the empty shapes.
  */
class CommitCodecSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("b", BooleanType), StructField("sh", ShortType),
    StructField("by", ByteType), StructField("s", StringType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("dt", DateType), StructField("dec", DecimalType(12, 2)),
    StructField("bin", BinaryType),
    StructField("arr", ArrayType(LongType)))) // fallback-marker column

  private def row(vals: Any*): Row = new GenericRowWithSchema(vals.toArray, schema)

  private val r1 = row(7L, 3, 2.5d, 1.5f, true, 9.toShort, 4.toByte,
    "héllo ☃ world", java.sql.Timestamp.valueOf("2024-01-05 10:11:12.123456"),
    java.time.LocalDateTime.of(2024, 1, 5, 10, 11, 12, 123456000),
    java.sql.Date.valueOf("2024-02-29"), new BigDecimal("-12345.67"),
    Array[Byte](0, 1, -1, 127), Seq(1L, 2L, 3L))
  private val rNulls = row(null, null, null, null, null, null, null, null,
    null, null, null, null, null, null)
  private val rEdge = row(Long.MinValue, Int.MaxValue, Double.NaN,
    Float.NegativeInfinity, false, Short.MinValue, Byte.MinValue, "",
    java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"),
    java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000),
    java.sql.Date.valueOf("1969-12-31"), new BigDecimal("0.00"),
    Array.empty[Byte], Seq.empty[Long])

  private def javaRoundTrip[A <: AnyRef](a: A): A = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(a); oos.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[A]
  }

  /** The PRODUCTION Kryo path: Spark's KryoSerializer (chill's Scala
    * registrations + KryoSerializable dispatch), exactly what
    * GraftSession's spark.serializer uses for task results.
    */
  private def kryoRoundTrip[A <: AnyRef](a: A): A = {
    val ser = new org.apache.spark.serializer.KryoSerializer(
      new org.apache.spark.SparkConf()).newInstance()
    implicit val ct: scala.reflect.ClassTag[A] =
      scala.reflect.ClassTag(a.getClass).asInstanceOf[scala.reflect.ClassTag[A]]
    ser.deserialize[A](ser.serialize(a))
  }

  private def assertRowsEqual(got: Array[Row], want: Array[Row]): Unit = {
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      (0 until w.length).foreach { f =>
        (g.get(f), w.get(f)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.toSeq === b.toSeq, s"field $f")
          // NaN != NaN under ==; compare bitwise for doubles
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(java.lang.Double.doubleToLongBits(a) ===
              java.lang.Double.doubleToLongBits(b), s"field $f")
          case (a, b) => assert(a === b, s"field $f")
        }
      }
      assert(g.schema === schema)
    }
  }

  private val payload: Array[Array[Row]] =
    Array(Array(r1, rNulls), Array.empty[Row], Array(rEdge))

  test("BucketWriteCommit round-trips every fast type, nulls, and the array fallback — Java") {
    val back = javaRoundTrip(BucketWriteCommit(payload))
    assert(back.rowsByBucket.length === 3)
    assertRowsEqual(back.rowsByBucket(0), payload(0))
    assert(back.rowsByBucket(1).isEmpty)
    assertRowsEqual(back.rowsByBucket(2), payload(2))
  }

  test("BucketWriteCommit round-trips every fast type, nulls, and the array fallback — Kryo") {
    val back = kryoRoundTrip(BucketWriteCommit(payload))
    assert(back.rowsByBucket.length === 3)
    assertRowsEqual(back.rowsByBucket(0), payload(0))
    assert(back.rowsByBucket(1).isEmpty)
    assertRowsEqual(back.rowsByBucket(2), payload(2))
  }

  test("decimal scale and negative unscaled values survive exactly") {
    val decs = Seq("-12345.67", "0.00", "99999999.99", "-0.01").map(new BigDecimal(_))
    decs.foreach { d =>
      val p = Array(Array(row(1L, 1, 1d, 1f, true, 1.toShort, 1.toByte, "x",
        null, null, null, d, null, null)))
      val back = javaRoundTrip(BucketWriteCommit(p)).rowsByBucket(0)(0).get(11)
      assert(back === d, s"BigDecimal $d (scale preserved: equals() includes scale)")
    }
  }

  test("all-empty and null payloads keep their shape") {
    val empty = javaRoundTrip(BucketWriteCommit(Array(Array.empty[Row], Array.empty[Row])))
    assert(empty.rowsByBucket.length === 2)
    assert(empty.rowsByBucket.forall(_.isEmpty))
    assert(javaRoundTrip(BucketWriteCommit(null)).rowsByBucket === null)
    assert(kryoRoundTrip(BucketWriteCommit(null)).rowsByBucket === null)
  }

  test("BucketDeltaCommit round-trips deletes and staged inserts — both serializers") {
    val dels = Array(Array(3, 1, 4), Array.empty[Int], Array(5))
    val ins: Array[Array[Row]] = Array(Array(r1), Array(rEdge, rNulls), Array.empty[Row])
    Seq[BucketDeltaCommit => BucketDeltaCommit](javaRoundTrip, kryoRoundTrip).foreach { rt =>
      val back = rt(BucketDeltaCommit(dels, ins))
      assert(back.deletes.map(_.toSeq).toSeq === dels.map(_.toSeq).toSeq)
      assertRowsEqual(back.inserts(0), ins(0))
      assertRowsEqual(back.inserts(1), ins(1))
      assert(back.inserts(2).isEmpty)
    }
  }
}
