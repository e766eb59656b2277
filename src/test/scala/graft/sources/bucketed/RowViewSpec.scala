package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The store's decoded rows are [[RowView]]s over column-major
  * [[ColumnChunk]]s. A view must be indistinguishable from the plain
  * row it replaces wherever a `Row` goes: equality and hashing, the
  * typed getters, serialization (as the plain row, never its chunk),
  * exact floating-point bits, and the NULL padding of rows written
  * before an ADD COLUMN. And the decoders must really produce views:
  * a decoder that fell back to boxed rows fails here.
  */
class RowViewSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("b", BooleanType), StructField("sh", ShortType),
    StructField("by", ByteType), StructField("s", StringType),
    StructField("ntz", TimestampNTZType), StructField("dec", DecimalType(12, 2))))

  private val values: Seq[Seq[Any]] = Seq(
    Seq(7L, 3, 2.5d, 1.5f, true, 9.toShort, 4.toByte, "a",
      java.time.LocalDateTime.of(2024, 1, 5, 10, 11, 12), new java.math.BigDecimal("1.50")),
    Seq(null, null, null, null, null, null, null, null, null, null),
    Seq(Long.MinValue, null, -0.0d, null, false, Short.MaxValue, null, "b",
      null, new java.math.BigDecimal("-3.00")),
    Seq(Long.MaxValue, Int.MinValue, Double.NaN, Float.NaN, null, null, Byte.MinValue, null,
      java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59), null))

  private def plain(v: Seq[Any]): Row = new GenericRowWithSchema(v.toArray, schema)

  // NaN never equals itself under ==: compare floating values by bits
  private def bits(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
    case f: java.lang.Float => java.lang.Float.floatToRawIntBits(f)
    case other => other
  }

  private def decoders: Seq[(String, Seq[Seq[Any]] => Array[Row])] = Seq(
    "payload" -> (DecodedRows.viaPayload(schema, _)),
    "file" -> (DecodedRows.viaFile(schema, _)))

  test("a view equals and hashes like the plain row, nulls in primitive columns included") {
    decoders.foreach { case (name, decode) =>
      val views = decode(values)
      assert(views.forall(_.isInstanceOf[RowView]), name)
      views.zip(values.map(plain)).foreach { case (v, p) =>
        assert(v === p, name)
        assert(p === v, name)
        assert(v.hashCode === p.hashCode, name)
        assert(v.schema === schema, name)
        assert(v.fieldIndex("dec") === 9, name)
        assert(v.toSeq.map(bits) === p.toSeq.map(bits), name)
        (0 until schema.length).foreach { c =>
          assert(v.isNullAt(c) === p.isNullAt(c), s"$name column $c")
        }
      }
      assert(views.toSet === values.map(plain).toSet, name)
      // the typed getters agree with the plain row's, and a NULL cell
      // throws as it does on the plain row
      val (v, p) = (views(0), plain(values(0)))
      assert((v.getLong(0), v.getInt(1), v.getDouble(2), v.getFloat(3), v.getBoolean(4),
        v.getShort(5), v.getByte(6)) === (p.getLong(0), p.getInt(1), p.getDouble(2),
        p.getFloat(3), p.getBoolean(4), p.getShort(5), p.getByte(6)), name)
      def sameFailure(a: => Any, b: => Any): Unit = {
        val (ea, eb) = (intercept[Exception](a), intercept[Exception](b))
        assert(ea.getClass === eb.getClass, name)
        assert(ea.getMessage === eb.getMessage, name)
      }
      sameFailure(views(1).getLong(0), plain(values(1)).getLong(0))
      sameFailure(views(1).getDouble(2), plain(values(1)).getDouble(2))
      sameFailure(v.getInt(0), p.getInt(0))
    }
  }

  test("Java and Kryo round trips come back as the plain row, without the chunk") {
    // a chunk of 2000 rows: one view's share is small, the chunk is not
    val many = (0 until 2000).map(i => Seq[Any](i.toLong, i, i * 0.5, i.toFloat, i % 2 == 0,
      i.toShort, i.toByte, s"s$i", java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(i),
      java.math.BigDecimal.valueOf(i, 2)))
    val views = DecodedRows.viaPayload(schema, many)
    val kryo = new org.apache.spark.serializer.KryoSerializer(
      new org.apache.spark.SparkConf()).newInstance()
    def javaBytes(o: AnyRef): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.toByteArray
    }
    def fromJava(b: Array[Byte]): AnyRef =
      new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b)).readObject()
    def kryoBytes(o: AnyRef): Array[Byte] = {
      val buf = kryo.serialize[AnyRef](o)
      val a = new Array[Byte](buf.remaining()); buf.get(a); a
    }
    def fromKryo(b: Array[Byte]): AnyRef = kryo.deserialize[AnyRef](java.nio.ByteBuffer.wrap(b))

    Seq(0, 1234).foreach { i =>
      val v = views(i)
      // the view's own schema instance: both rows then write the same
      // schema object, whichever of its lazy caches are filled
      val p = new GenericRowWithSchema(many(i).toArray, v.schema)
      assert(v.isInstanceOf[RowView])
      val jv = javaBytes(v)
      val jp = javaBytes(p)
      val kv = kryoBytes(v)
      val kp = kryoBytes(p)
      Seq(fromJava(jv), fromKryo(kv)).foreach { back =>
        assert(back.getClass === classOf[GenericRowWithSchema])
        assert(back === p)
        assert(back.asInstanceOf[Row].schema === schema)
      }
      // Java writes the plain row in the view's place, byte for byte;
      // Kryo adds only the view's class name. 2000 rows of ten columns
      // would take tens of kilobytes.
      assert(jv.length === jp.length)
      assert(kv.length <= kp.length + 100, s"kryo: view ${kv.length} B, plain ${kp.length} B")
    }
  }

  test("-0.0 and non-canonical NaN payloads come back bit-exact") {
    val dSchema = StructType(Seq(StructField("d", DoubleType), StructField("f", FloatType)))
    val nanA = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val nanB = java.lang.Double.longBitsToDouble(0xfff8000000abcdefL)
    val fNanA = java.lang.Float.intBitsToFloat(0x7fc00001)
    val fNanB = java.lang.Float.intBitsToFloat(0xffc00123)
    val rows = Seq(Seq[Any](-0.0d, -0.0f), Seq[Any](nanA, fNanA), Seq[Any](nanB, fNanB),
      Seq[Any](0.0d, 0.0f))
    def bits(r: Row): (Long, Int) = (java.lang.Double.doubleToRawLongBits(r.getDouble(0)),
      java.lang.Float.floatToRawIntBits(r.getFloat(1)))
    val want = rows.map(v => (java.lang.Double.doubleToRawLongBits(v(0).asInstanceOf[Double]),
      java.lang.Float.floatToRawIntBits(v(1).asInstanceOf[Float])))
    val back = DecodedRows.viaPayload(dSchema, rows)
    assert(back.forall(_.isInstanceOf[RowView]))
    assert(back.map(bits).toSeq === want)
    // get() boxes the same bits
    assert(back.map(r => java.lang.Double.doubleToRawLongBits(
      r.get(0).asInstanceOf[java.lang.Double])).toSeq === want.map(_._1))
    // a block file keeps NaN-ness and the signed zeros, not NaN payload
    // bits: parquet's plain encoder writes Double.doubleToLongBits /
    // Float.floatToIntBits, which canonicalize every NaN
    // (FileStore.writeBlock's contract)
    val fromFile = DecodedRows.viaFile(dSchema, rows)
    assert(fromFile.forall(_.isInstanceOf[RowView]))
    assert(Seq(fromFile(0), fromFile(3)).map(bits) === Seq(want(0), want(3)))
    assert(Seq(fromFile(1), fromFile(2)).forall(r => r.getDouble(0).isNaN && r.getFloat(1).isNaN))
  }

  test("a view decoded before an ADD COLUMN is NULL-padded through BucketStore.pad") {
    val name = "rv_evolve"
    BucketStore.drop(name)
    BucketStore.load(spark, name, (1 to 200).map(i => (i.toLong, i * 0.5)).toDF("k", "v"), "k", 2)
    BucketStore.addColumns(name, Seq(StructField("tag", StringType)))
    val t = BucketStore.get(name)
    val stored = t.buckets(0)
    assert(stored.nonEmpty && stored.forall(r => r.isInstanceOf[RowView] && r.length === 2))
    val padded = BucketStore.pad(stored(0), 3)
    assert(padded.length === 3 && padded.isNullAt(2))
    assert(padded === Row(stored(0).getLong(0), stored(0).getDouble(1), null))
    val got = spark.read.format("graft-buckets").option("table", name).load().collect()
    assert(got.length === 200 && got.forall(_.isNullAt(2)))
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSet ===
      (1 to 200).map(i => (i.toLong, i * 0.5)).toSet)
    BucketStore.drop(name)
  }

  test("after a load and after a reload from the files, every stored row is a view") {
    val name = "rv_loaded"
    BucketStore.drop(name)
    BucketStore.load(spark, name,
      (1 to 3000).map(i => (i.toLong, s"g${i % 7}", i * 0.25, i % 11)).toDF("k", "g", "v", "n"),
      "k", 4)
    def allViews(): Boolean = {
      val t = BucketStore.get(name)
      t.buckets.indices.forall(b => t.buckets(b).forall(_.isInstanceOf[RowView]))
    }
    assert(allViews(), "the payload decoder must hand out views")
    BucketStore.evictTable(name)
    assert(BucketStore.get(name).buckets.loadedCount === 0)
    assert(ScanReference.loadingScan(spark, name).collect().length === 3000)
    assert(BucketStore.get(name).buckets.loadedCount === 4)
    assert(allViews(), "the block-file decoder must hand out views")
    BucketStore.drop(name)
  }
}
