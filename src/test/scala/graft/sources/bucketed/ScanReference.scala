package graft.sources.bucketed

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** References for scan specs that go through no reader. */
object ScanReference {

  /** The store's own fold of each bucket of `name`, in serving order
    * ([[BucketStore.effectiveRows]]), NULL-padded to the table's arity
    * and handed back by Spark from a local relation: the values a scan
    * must return, in the external form Spark returns them in. Folding
    * loads every block into the heap cache; a spec after the cold path
    * evicts the table again.
    */
  def buckets(spark: SparkSession, name: String): IndexedSeq[Seq[Seq[Any]]] = {
    val t = BucketStore.get(name)
    t.buckets.indices.map(b =>
      spark.createDataFrame(padded(t, b).asJava, t.schema).collect().map(_.toSeq).toSeq)
  }

  /** [[buckets]] as one local DataFrame, bucket after bucket: filter
    * and project it with Spark to get a scan's expected answer.
    */
  def fold(spark: SparkSession, name: String): DataFrame = {
    val t = BucketStore.get(name)
    spark.createDataFrame(t.buckets.indices.flatMap(padded(t, _)).asJava, t.schema)
  }

  private def padded(t: BucketStore.BucketTable, b: Int): Seq[Row] =
    BucketStore.effectiveRows(t, b).toSeq.map(BucketStore.pad(_, t.schema.length))

  /** A scan of `name` that also names the `_pos` row id: it reads
    * through the store's row stream ([[BucketRowStream]]), which loads
    * each block it touches into the heap cache, as row-level rewrites
    * do. Its data columns come first.
    */
  def loadingScan(spark: SparkSession, name: String): DataFrame = {
    val df = spark.read.format("graft-buckets").option("table", name).load()
    df.select((df.columns.map(col) :+ col(BucketedTable.MetaPos)).toIndexedSeq: _*)
  }
}
