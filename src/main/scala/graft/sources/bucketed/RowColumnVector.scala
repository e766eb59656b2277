package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** Column `i` of a page of stored rows, read in place: a read-only
  * `ColumnVector` over an `Array[Row]` that its owner refills page by
  * page. Nothing is copied into the vector.
  *
  * Primitive columns read through the row's typed getters, which a
  * [[RowView]] answers from its chunk's arrays with no box. Every other
  * type converts its cell through [[KeyOrder.internal]], in the
  * physical form the store's vector code reads: DATE through `getInt`
  * (epoch days), TIMESTAMP and TIMESTAMP_NTZ through `getLong` (epoch
  * micros), and a compact decimal's unscaled value at the column's
  * scale through `getInt` (precision ≤ 9) or `getLong` (≤ 18), as
  * [[KeyOrder.unscaledGetter]] reads it. A row shorter than `i + 1`
  * (written before an ADD COLUMN) reads as NULL there. The vector
  * memoizes recent conversions, so, like its page, it belongs to one
  * reader thread.
  */
final class RowColumnVector(dt: DataType, rows: Array[Row], i: Int) extends ColumnVector(dt) {
  override def close(): Unit = ()
  override def hasNull: Boolean = true
  override def numNulls: Int =
    throw new UnsupportedOperationException("a row-backed vector does not count its NULLs")

  override def isNullAt(r: Int): Boolean = {
    val row = rows(r)
    i >= row.length || row.isNullAt(i)
  }

  override def getBoolean(r: Int): Boolean = rows(r).getBoolean(i)
  override def getByte(r: Int): Byte = rows(r).getByte(i)
  override def getShort(r: Int): Short = rows(r).getShort(i)
  override def getFloat(r: Int): Float = rows(r).getFloat(i)
  override def getDouble(r: Int): Double = rows(r).getDouble(i)

  override def getInt(r: Int): Int = dt match {
    case IntegerType => rows(r).getInt(i)
    case _: DecimalType => unscaled(r).toInt
    case _ => internal(r).asInstanceOf[Int]
  }

  override def getLong(r: Int): Long = dt match {
    case LongType => rows(r).getLong(i)
    case _: DecimalType => unscaled(r)
    case _ => internal(r).asInstanceOf[Long]
  }

  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal =
    Decimal(internal(r).asInstanceOf[java.math.BigDecimal], precision, scale)
  override def getUTF8String(r: Int): UTF8String = internal(r).asInstanceOf[UTF8String]
  override def getBinary(r: Int): Array[Byte] = internal(r).asInstanceOf[Array[Byte]]

  override def getArray(r: Int): ColumnarArray = RowColumnVector.nested(dt)
  override def getMap(r: Int): ColumnarMap = RowColumnVector.nested(dt)
  override def getChild(ordinal: Int): ColumnVector = RowColumnVector.nested(dt)

  // the internal forms of the stored objects read last, by identity, in
  // 16 slots picked by identity hash: the store shares repeated values
  // (ValueSharing), so a low-cardinality column converts each distinct
  // value about once per vector, not once per cell
  private val memoKeys = new Array[AnyRef](16)
  private val memoVals = new Array[Any](16)

  private def internal(r: Int): Any = {
    val v = rows(r).get(i).asInstanceOf[AnyRef]
    val slot = System.identityHashCode(v) & 15
    if (v == null) null
    else if (memoKeys(slot) eq v) memoVals(slot)
    else {
      val x = KeyOrder.internal(dt, v)
      if (x == null) throw new IllegalStateException(s"a ${v.getClass.getName} in a $dt column")
      memoKeys(slot) = v
      memoVals(slot) = x
      x
    }
  }

  private def unscaled(r: Int): Long = {
    val d = dt.asInstanceOf[DecimalType]
    getDecimal(r, d.precision, d.scale).toUnscaledLong
  }
}

object RowColumnVector {
  /** Types a [[RowColumnVector]] reads; a scan projecting any other
    * (a nested type) takes the row reader for the whole scan.
    */
  def supported(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
         BooleanType | StringType | BinaryType | TimestampType | TimestampNTZType |
         DateType | _: DecimalType => true
    case _ => false
  }

  private def nested(dt: DataType): Nothing =
    throw new UnsupportedOperationException(s"no row-backed vector for $dt")
}

/** An INT column of `values`, read in place: the hot reader's `_bucket`
  * (one value repeated) and `_pos` (each row's physical position).
  */
private[bucketed] final class IntsVector(values: Array[Int]) extends ColumnVector(IntegerType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(r: Int): Boolean = false
  override def getInt(r: Int): Int = values(r)

  private def notInt: Nothing = throw new UnsupportedOperationException("an INT column")
  override def getBoolean(r: Int): Boolean = notInt
  override def getByte(r: Int): Byte = notInt
  override def getShort(r: Int): Short = notInt
  override def getLong(r: Int): Long = notInt
  override def getFloat(r: Int): Float = notInt
  override def getDouble(r: Int): Double = notInt
  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal = notInt
  override def getUTF8String(r: Int): UTF8String = notInt
  override def getBinary(r: Int): Array[Byte] = notInt
  override def getArray(r: Int): ColumnarArray = notInt
  override def getMap(r: Int): ColumnarMap = notInt
  override def getChild(ordinal: Int): ColumnVector = notInt
}
