package graft.sources.bucketed

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Micro-benchmark for the round-18 type-specialized In probe: the
  * compiled evaluator (sorted-array binary search / hash set) vs the
  * pre-round-18 per-literal closure loop, on a 4096-row batch probed
  * repeatedly with a 1000-element literal list. Run manually with the
  * test classpath plus the Spark jars (results recorded in SCALE.md).
  */
object InProbeBench {

  private val schema = StructType(Seq(StructField("l", LongType)))

  def main(args: Array[String]): Unit = {
    val n = 4096
    val vectors = OnHeapColumnVector.allocateColumns(n, schema)
    (0 until n).foreach(r => vectors(0).putLong(r, (r * 37L) % 5000L))
    val batch = new ColumnarBatch(vectors.map(_.asInstanceOf[ColumnVector]))
    batch.setNumRows(n)

    val lits: Array[Any] = Array.tabulate(1000)(k => Long.box(k * 3L))
    val f = In("l", lits)
    val probe = VectorFilterEval.compile(schema, Array(f)).get
    // the pre-round-18 shape: per-literal compare closures, linear scan
    val cls: Array[(ColumnarBatch, Int) => Int] =
      lits.map { v => val l = v.asInstanceOf[Long]
        (b: ColumnarBatch, r: Int) => java.lang.Long.compare(b.column(0).getLong(r), l) }
    val loop: (ColumnarBatch, Int) => Boolean = { (b, r) =>
      var k = 0; var hit = false
      while (!hit && k < cls.length) { hit = cls(k)(b, r) == 0; k += 1 }
      hit
    }

    def time(label: String, passes: Int)(body: => Int): Unit = {
      var sink = 0
      (1 to 3).foreach(_ => sink += body) // warm up
      val t0 = System.nanoTime()
      (1 to passes).foreach(_ => sink += body)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = passes.toLong * n
      println(f"$label%-12s $sec%8.3f s  ${rows / sec / 1e6}%10.1f M rows/s  (sink=$sink)")
    }

    def run(p: (ColumnarBatch, Int) => Boolean): Int = {
      var hits = 0; var r = 0
      while (r < n) { if (p(batch, r)) hits += 1; r += 1 }
      hits
    }

    time("set-probe", 20000)(run(probe))
    time("closure-loop", 200)(run(loop))
    batch.close()

    // ROW-PATH flavor (round 19): FilterEval.compile's external-value
    // probe vs a per-row loop comparing each literal through the
    // column's KeyOrder (the pre-round-19 shape), over external Rows —
    // what hot/loaded blocks and MoR delta filtering pay
    val rows: Array[Row] = Array.tabulate(n)(r => Row(Long.box((r * 37L) % 5000L)))
    val keep = FilterEval.compile(schema, Array(f))
    def runRows(p: Row => Boolean): Int = {
      var hits = 0; var r = 0
      while (r < n) { if (p(rows(r))) hits += 1; r += 1 }
      hits
    }
    time("row-probe", 20000)(runRows(keep))
    val ord = KeyOrder.of(schema(0).dataType)
    time("row-literals", 20)(runRows(r => lits.exists(ord.compare(r.get(0), _) == 0)))

    // DECIMAL flavor (round 19): the unscaled-long set probe via
    // getDecimal().toUnscaledLong vs a raw getLong read — quantifies
    // the Decimal-object wrapper on the hot path
    val decSchema = StructType(Seq(StructField("d", DecimalType(12, 2))))
    val dv = OnHeapColumnVector.allocateColumns(n, decSchema)
    (0 until n).foreach(r => dv(0).putLong(r, (r * 37L) % 5000L))
    val decBatch = new ColumnarBatch(dv.map(_.asInstanceOf[ColumnVector]))
    decBatch.setNumRows(n)
    val decLits: Array[Any] =
      Array.tabulate(1000)(k => java.math.BigDecimal.valueOf(k * 3L, 2))
    val decProbe = VectorFilterEval.compile(decSchema, Array(In("d", decLits))).get
    def runDec(p: (ColumnarBatch, Int) => Boolean): Int = {
      var hits = 0; var r = 0
      while (r < n) { if (p(decBatch, r)) hits += 1; r += 1 }
      hits
    }
    time("dec-probe", 20000)(runDec(decProbe))
    val rawGet: (ColumnarBatch, Int) => Boolean = {
      val arr = decLits.map(_.asInstanceOf[java.math.BigDecimal].unscaledValue.longValue)
        .distinct.sorted
      (b, r) => java.util.Arrays.binarySearch(arr, b.column(0).getLong(r)) >= 0
    }
    time("dec-rawget", 20000)(runDec(rawGet))
    decBatch.close()
  }
}
