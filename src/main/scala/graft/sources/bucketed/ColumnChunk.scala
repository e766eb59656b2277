package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** One bucket segment, held column-major: a `long[]`, `int[]`,
  * `double[]`, `float[]`, `short[]`, `byte[]` or `boolean[]` per
  * primitive column (plus a null bit mask once the column meets a
  * NULL), and an `Object[]` of [[ValueSharing]]-shared values for every
  * other column. One fill, [[ColumnChunk.Builder.fill]], makes every
  * chunk from Catalyst rows: the writers' per-bucket commit payloads
  * ([[BucketedDataWriter]], [[BucketedDeltaWriter]]) and the block-file
  * reader ([[FileStore.readBlock]]). A chunk's rows are handed out as
  * [[RowView]]s, so a primitive value is 8 bytes or fewer in an array,
  * not a 16-24 byte box behind a reference.
  *
  * A chunk is immutable once built. It lives while any view of it
  * lives: a commit that keeps some rows of a block keeps their views,
  * and with them the whole chunk they index. It is plain serializable
  * data, so a writer's chunk travels to the driver as it is.
  */
private[bucketed] final class ColumnChunk private (
    val schema: StructType,
    private[bucketed] val cols: Array[ColumnChunk.Col],
    val numRows: Int) extends Serializable {

  /** Heap bytes per row of the column arrays and null masks: what each
    * of its views pins beyond its own shell.
    */
  private[bucketed] val bytesPerRow: Double = cols.map(_.bytesPerRow).sum

  /** The chunk's rows, one [[RowView]] each. */
  private[bucketed] def rows: Array[Row] = {
    val out = new Array[Row](numRows)
    var i = 0
    while (i < numRows) { out(i) = new RowView(this, i); i += 1 }
    out
  }
}

private[bucketed] object ColumnChunk {

  /** One column's values. The typed getters unbox like `GenericRow`'s
    * by default (a class mismatch throws `ClassCastException`); each
    * primitive column overrides its own getter with an array read.
    * NULL cells are the caller's to check ([[RowView]] does).
    */
  sealed abstract class Col extends Serializable {
    def isNull(r: Int): Boolean
    def get(r: Int): Any
    def bytesPerRow: Double
    def getLong(r: Int): Long = get(r).asInstanceOf[Long]
    def getInt(r: Int): Int = get(r).asInstanceOf[Int]
    def getDouble(r: Int): Double = get(r).asInstanceOf[Double]
    def getFloat(r: Int): Float = get(r).asInstanceOf[Float]
    def getShort(r: Int): Short = get(r).asInstanceOf[Short]
    def getByte(r: Int): Byte = get(r).asInstanceOf[Byte]
    def getBoolean(r: Int): Boolean = get(r).asInstanceOf[Boolean]
  }

  /** A primitive column's NULLs: one bit per row, no mask without one. */
  sealed abstract class Prim(nulls: Array[Long], width: Int) extends Col {
    final def isNull(r: Int): Boolean = nulls != null && (nulls(r >>> 6) & (1L << r)) != 0
    final def bytesPerRow: Double = width + (if (nulls == null) 0.0 else 0.125)
  }

  final class Longs(v: Array[Long], nulls: Array[Long]) extends Prim(nulls, 8) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getLong(r: Int): Long = v(r)
  }
  final class Ints(v: Array[Int], nulls: Array[Long]) extends Prim(nulls, 4) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getInt(r: Int): Int = v(r)
  }
  final class Doubles(v: Array[Double], nulls: Array[Long]) extends Prim(nulls, 8) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getDouble(r: Int): Double = v(r)
  }
  final class Floats(v: Array[Float], nulls: Array[Long]) extends Prim(nulls, 4) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getFloat(r: Int): Float = v(r)
  }
  final class Shorts(v: Array[Short], nulls: Array[Long]) extends Prim(nulls, 2) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getShort(r: Int): Short = v(r)
  }
  final class Bytes(v: Array[Byte], nulls: Array[Long]) extends Prim(nulls, 1) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getByte(r: Int): Byte = v(r)
  }
  final class Booleans(v: Array[Boolean], nulls: Array[Long]) extends Prim(nulls, 1) {
    def get(r: Int): Any = if (isNull(r)) null else v(r)
    override def getBoolean(r: Int): Boolean = v(r)
  }

  /** Values held as objects: every non-primitive column. */
  final class Refs(private[bucketed] val v: Array[AnyRef]) extends Col {
    def isNull(r: Int): Boolean = v(r) == null
    def get(r: Int): Any = v(r)
    def bytesPerRow: Double = 8.0
  }

  /** Fills a chunk of `n` rows from Catalyst rows, one row per [[fill]]
    * call, in any order. A primitive column reads the row's typed getter
    * into its array; every other column goes through its Scala converter
    * and `share`, so equal immutable values become one instance across
    * every chunk built with the same `share`.
    */
  final class Builder(schema: StructType, n: Int, share: ValueSharing) {
    private val types = schema.fields.map(_.dataType)
    private val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
    private val slots: Array[AnyRef] = types.map {
      case LongType => new Array[Long](n)
      case IntegerType => new Array[Int](n)
      case DoubleType => new Array[Double](n)
      case FloatType => new Array[Float](n)
      case ShortType => new Array[Short](n)
      case ByteType => new Array[Byte](n)
      case BooleanType => new Array[Boolean](n)
      case _ => new Array[AnyRef](n)
    }
    private val masks = new Array[Array[Long]](slots.length)

    /** Row `r` of the chunk: fields `offset ..` of `row`, one per column. */
    def fill(r: Int, row: InternalRow, offset: Int = 0): Unit = {
      var c = 0
      while (c < slots.length) {
        val f = c + offset
        if (row.isNullAt(f)) slots(c) match {
          case _: Array[AnyRef] => // already null
          case _ =>
            if (masks(c) == null) masks(c) = new Array[Long]((n + 63) >>> 6)
            masks(c)(r >>> 6) |= 1L << r
        }
        else slots(c) match {
          case a: Array[Long] => a(r) = row.getLong(f)
          case a: Array[Int] => a(r) = row.getInt(f)
          case a: Array[Double] => a(r) = row.getDouble(f)
          case a: Array[Float] => a(r) = row.getFloat(f)
          case a: Array[Short] => a(r) = row.getShort(f)
          case a: Array[Byte] => a(r) = row.getByte(f)
          case a: Array[Boolean] => a(r) = row.getBoolean(f)
          case a: Array[AnyRef] =>
            a(r) = share(c, toScala(c)(row.get(f, types(c)))).asInstanceOf[AnyRef]
        }
        c += 1
      }
    }

    private def column(c: Int): Col = slots(c) match {
      case a: Array[Long] => new Longs(a, masks(c))
      case a: Array[Int] => new Ints(a, masks(c))
      case a: Array[Double] => new Doubles(a, masks(c))
      case a: Array[Float] => new Floats(a, masks(c))
      case a: Array[Short] => new Shorts(a, masks(c))
      case a: Array[Byte] => new Bytes(a, masks(c))
      case a: Array[Boolean] => new Booleans(a, masks(c))
      case a: Array[AnyRef] => new Refs(a)
    }

    def result(): ColumnChunk = new ColumnChunk(schema, Array.tabulate(slots.length)(column), n)
  }
}

/** Row `index` of a [[ColumnChunk]]: a 24-byte view (a chunk reference
  * and an index) that answers `Row`'s getters from the chunk's arrays.
  * The typed getters (`getLong`, `getDouble`, …) read a primitive
  * column with no box; `get` boxes it afresh on every call. It equals
  * and hashes like the `GenericRowWithSchema` of the same values, is
  * immutable (`copy` returns it), and serializes — by Java and by Kryo
  * — as that plain row, so its chunk never travels.
  */
@com.esotericsoftware.kryo.DefaultSerializer(classOf[RowView.AsPlainRow])
private[bucketed] final class RowView(chunk: ColumnChunk, index: Int) extends Row {
  override def length: Int = chunk.cols.length
  override def get(i: Int): Any = chunk.cols(i).get(index)
  override def isNullAt(i: Int): Boolean = chunk.cols(i).isNull(index)
  override def schema: StructType = chunk.schema
  override def fieldIndex(name: String): Int = chunk.schema.fieldIndex(name)
  override def copy(): Row = this

  // a NULL cell takes Row's own getter, which throws Row's error
  override def getLong(i: Int): Long = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getLong(i) else c.getLong(index)
  }
  override def getInt(i: Int): Int = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getInt(i) else c.getInt(index)
  }
  override def getDouble(i: Int): Double = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getDouble(i) else c.getDouble(index)
  }
  override def getFloat(i: Int): Float = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getFloat(i) else c.getFloat(index)
  }
  override def getShort(i: Int): Short = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getShort(i) else c.getShort(index)
  }
  override def getByte(i: Int): Byte = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getByte(i) else c.getByte(index)
  }
  override def getBoolean(i: Int): Boolean = {
    val c = chunk.cols(i); if (c.isNull(index)) super.getBoolean(i) else c.getBoolean(index)
  }

  /** The chunk column that holds cell `i`. */
  private[bucketed] def column(i: Int): ColumnChunk.Col = chunk.cols(i)

  /** The object column `i` stores for this row — the value itself, no
    * box made — or null for a primitive column or a NULL cell.
    */
  private[bucketed] def storedRef(i: Int): AnyRef = column(i) match {
    case r: ColumnChunk.Refs => r.v(index)
    case _ => null
  }

  /** Heap bytes this row holds: its shell and its share of the chunk's
    * arrays (values of object columns excluded).
    */
  private[bucketed] def fixedBytes: Double = 24.0 + chunk.bytesPerRow

  /** The equal plain row: what a view serializes as. */
  def toPlain: Row = new GenericRowWithSchema(Array.tabulate[Any](length)(get), schema)

  @throws[java.io.ObjectStreamException]
  private def writeReplace(): AnyRef = toPlain
}

private[bucketed] object RowView {
  /** Kryo writes a view as its plain row and reads that row back. */
  final class AsPlainRow extends com.esotericsoftware.kryo.Serializer[Row] {
    override def write(k: com.esotericsoftware.kryo.Kryo,
        out: com.esotericsoftware.kryo.io.Output, r: Row): Unit =
      k.writeClassAndObject(out, r.asInstanceOf[RowView].toPlain)
    override def read(k: com.esotericsoftware.kryo.Kryo,
        in: com.esotericsoftware.kryo.io.Input, cls: Class[Row]): Row =
      k.readClassAndObject(in).asInstanceOf[Row]
  }
}
