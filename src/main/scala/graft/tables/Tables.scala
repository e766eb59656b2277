package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * One parquet file (or directory) per table under `dir`. All reads go
  * through `spark.read.parquet` so Catalyst gets vectorized scans,
  * predicate pushdown and column pruning for free — at 100 TB these
  * paths would be partitioned parquet/iceberg directories and the same
  * code holds.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `ts` is normalized to session-zoned TimestampType whatever shape
    * the generator wrote. TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]), arrives as nanos-long
    * under `spark.sql.legacy.parquet.nanosAsLong` (fixed by
    * [[graft.GraftSession]]; there is no per-read option form) and is
    * truncated to micros with integral division — identical to
    * DuckDB's ns→µs cast, and no double round-trip (ns epochs exceed
    * 2^53). TIMESTAMP(MICROS) with isAdjustedToUTC unset arrives as
    * TIMESTAMP_NTZ and is cast (the UTC session makes that
    * instant-preserving and oracle-identical). Downstream code —
    * watermarks, `unix_micros`, the bucket store — always sees one
    * type.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
