package graft.sources.bucketed

import java.math.BigDecimal

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, GenericRowWithSchema}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The commit messages carry the writers' column chunks to the driver
  * on the task-result hop, the one place a corrupted round trip would
  * silently corrupt every loaded table. These specs drive the real
  * writers ([[BucketedDataWriter]], [[BucketedDeltaWriter]]) with
  * Catalyst rows, send their messages through both serializers (Kryo,
  * which GraftSession installs, and plain Java), and merge them as the
  * driver does: every column type, nulls, the nested ARRAY column,
  * decimal scales and empty buckets.
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
    StructField("arr", ArrayType(LongType))))

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

  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
  private def internal(r: Row): InternalRow = toCatalyst(r).asInstanceOf[InternalRow]

  /** `r` behind the leading `__row_operation` field a group-based
    * row-level rewrite hands the writer.
    */
  private def withOperation(r: Row): InternalRow =
    new GenericInternalRow((1 +: internal(r).toSeq(schema)).toArray)

  private def javaRoundTrip[A <: AnyRef](a: A): A = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(a); oos.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[A]
  }

  /** The production Kryo path: Spark's KryoSerializer, exactly what
    * GraftSession's spark.serializer uses for task results.
    */
  private def kryoRoundTrip[A <: AnyRef](a: A): A = {
    val ser = new org.apache.spark.serializer.KryoSerializer(
      new org.apache.spark.SparkConf()).newInstance()
    implicit val ct: scala.reflect.ClassTag[A] =
      scala.reflect.ClassTag(a.getClass).asInstanceOf[scala.reflect.ClassTag[A]]
    ser.deserialize[A](ser.serialize(a))
  }

  private val serializers: Seq[(String, WriterCommitMessage => WriterCommitMessage)] =
    Seq("Java" -> (javaRoundTrip(_)), "Kryo" -> (kryoRoundTrip(_)))

  private def assertRowsEqual(got: Array[Row], want: Seq[Row], clue: String): Unit = {
    assert(got.length === want.length, clue)
    got.zip(want).foreach { case (g, w) =>
      assert(g.isInstanceOf[RowView], clue)
      (0 until w.length).foreach { f =>
        (g.get(f), w.get(f)) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.toSeq === b.toSeq, s"$clue field $f")
          // NaN != NaN under ==; compare bitwise for doubles
          case (a: java.lang.Double, b: java.lang.Double) =>
            assert(java.lang.Double.doubleToLongBits(a) ===
              java.lang.Double.doubleToLongBits(b), s"$clue field $f")
          case (a, b) => assert(a === b, s"$clue field $f")
        }
      }
      assert(g.schema === schema, clue)
    }
  }

  private val numBuckets = 4
  private def bucketOf(r: Row): Int =
    BucketStore.routeBucket(None, LongType, numBuckets, if (r.isNullAt(0)) null else r.getLong(0))
  private val rows = Seq(r1, rNulls, rEdge)
  // three rows over four buckets: at least one bucket stays empty
  private val expected: Array[Seq[Row]] =
    Array.tabulate(numBuckets)(b => rows.filter(bucketOf(_) == b))

  serializers.foreach { case (name, rt) =>
    test("BucketWriteCommit round-trips every column type, nulls, the nested array and " +
        s"empty buckets — $name") {
      assert(expected.exists(_.isEmpty) && expected.count(_.nonEmpty) >= 2)
      val w = new BucketedDataWriter(schema, "l", numBuckets)
      rows.foreach(r => w.write(internal(r)))
      val msg = w.commit()
      assert(msg.isInstanceOf[BucketWriteCommit])
      val merged = BucketWriteCommit.merge(Array(rt(msg)), numBuckets)
      (0 until numBuckets).foreach(b => assertRowsEqual(merged(b), expected(b), s"bucket $b"))
    }
  }

  test("a record with the leading __row_operation field stages its table columns") {
    serializers.foreach { case (name, rt) =>
      val w = new BucketedDataWriter(schema, "l", numBuckets)
      rows.foreach(r => w.write(withOperation(r)))
      val merged = BucketWriteCommit.merge(Array(rt(w.commit())), numBuckets)
      (0 until numBuckets).foreach(b => assertRowsEqual(merged(b), expected(b), s"$name bucket $b"))
    }
    val w = new BucketedDataWriter(schema, "l", numBuckets)
    val e = intercept[IllegalStateException] {
      w.write(new GenericInternalRow(Array[Any](1, 2)))
    }
    assert(e.getMessage === "writer got 2 fields for 14-column schema")
  }

  test("several task messages merge bucket by bucket, in message order") {
    serializers.foreach { case (name, rt) =>
      val msgs = rows.map { r =>
        val w = new BucketedDataWriter(schema, "l", numBuckets)
        w.write(internal(r))
        rt(w.commit())
      }.toArray
      val merged = BucketWriteCommit.merge(msgs, numBuckets)
      (0 until numBuckets).foreach(b => assertRowsEqual(merged(b), expected(b), s"$name bucket $b"))
    }
  }

  test("decimal scale and negative unscaled values survive exactly") {
    val decs = Seq("-12345.67", "0.00", "99999999.99", "-0.01").map(new BigDecimal(_))
    serializers.foreach { case (name, rt) =>
      val w = new BucketedDataWriter(schema, "l", 1)
      decs.foreach(d => w.write(internal(row(1L, 1, 1d, 1f, true, 1.toShort, 1.toByte, "x",
        null, null, null, d, null, null))))
      val back = BucketWriteCommit.merge(Array(rt(w.commit())), 1)(0).map(_.getDecimal(11))
      // BigDecimal.equals compares the scale too
      assert(back.toSeq === decs, name)
    }
  }

  test("a writer that saw no rows sends empty buckets") {
    serializers.foreach { case (name, rt) =>
      val merged = BucketWriteCommit.merge(
        Array(rt(new BucketedDataWriter(schema, "l", 2).commit())), 2)
      assert(merged.length === 2 && merged.forall(_.isEmpty), name)
    }
  }

  test("BucketDeltaCommit round-trips deletes and staged inserts — both serializers") {
    serializers.foreach { case (name, rt) =>
      val w = new BucketedDeltaWriter(schema, "l", numBuckets, None)
      def id(b: Int, pos: Int): InternalRow = new GenericInternalRow(Array[Any](b, pos))
      w.delete(null, id(0, 3))
      w.delete(null, id(0, 1))
      w.update(null, id(2, 5), internal(r1))
      w.insert(internal(rEdge))
      w.insert(internal(rNulls))
      val back = rt(w.commit()).asInstanceOf[BucketDeltaCommit]
      val wantDels = Array.tabulate(numBuckets)(b => Map(0 -> Seq(3, 1), 2 -> Seq(5)).getOrElse(b, Nil))
      assert(back.deletes.map(_.toSeq).toSeq === wantDels.toSeq, name)
      val wantIns = Array.tabulate(numBuckets)(b => Seq(r1, rEdge, rNulls).filter(bucketOf(_) == b))
      (0 until numBuckets).foreach(b =>
        assertRowsEqual(back.inserts(b).rows, wantIns(b), s"$name inserts bucket $b"))
    }
  }
}
