package graft.props

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Spark's own WHERE as the oracle for pushed filters: each `Filter`
  * becomes the Catalyst predicate it stands for, evaluated over a local
  * relation. The optimizer folds a projection over local rows
  * (`ConvertToLocalRelation`), so a check runs no job.
  */
object SparkWhere {

  def column(f: Filter): Column = f match {
    case EqualTo(c, v) => col(c) === lit(v)
    case EqualNullSafe(c, v) => col(c) <=> lit(v)
    case GreaterThan(c, v) => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case LessThan(c, v) => col(c) < lit(v)
    case LessThanOrEqual(c, v) => col(c) <= lit(v)
    case IsNull(c) => col(c).isNull
    case IsNotNull(c) => col(c).isNotNull
    case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
    case StringStartsWith(c, v) => col(c).startsWith(v)
    case StringEndsWith(c, v) => col(c).endsWith(v)
    case StringContains(c, v) => col(c).contains(v)
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case And(l, r) => column(l) && column(r)
    case Or(l, r) => column(l) || column(r)
    case Not(x) => !column(x)
    case other => throw new IllegalArgumentException(other.toString)
  }

  /** For each filter, whether WHERE keeps each row: `kept(spark, …)(k)(r)`
    * is true when filter `k` is TRUE on row `r` (false and NULL drop it).
    */
  def kept(spark: SparkSession, schema: StructType, rows: Seq[Row],
      filters: Seq[Filter]): IndexedSeq[IndexedSeq[Boolean]] =
    if (filters.isEmpty) IndexedSeq.empty
    else {
      val out = spark.createDataFrame(rows.asJava, schema)
        .select(filters.zipWithIndex.map { case (f, k) => column(f).as(s"f$k") }: _*)
        .collect()
      filters.indices.map(k => out.toIndexedSeq.map(r => !r.isNullAt(k) && r.getBoolean(k)))
    }
}
