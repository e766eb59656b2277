package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source facades covering SURVEY §2.1 S2-S6 (the reference's Kafka /
  * socket / text / collection sources) in Structured-Streaming form.
  */
object Sources {

  /** S2 — Kafka topic as a stream of (value: string). Requires the
    * spark-sql-kafka connector on the classpath (not bundled here;
    * zero-egress build). Mirrors FlinkKafkaConsumer010 +
    * SimpleStringSchema (KafkaWindowWordCount.scala:18-23).
    */
  def kafkaStringStream(spark: SparkSession, bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .selectExpr("CAST(value AS STRING) AS value", "timestamp AS ts")

  /** S3 — Kafka JSON topic with an explicit schema (the reference's
    * Kafka010JsonTableSource + TableSchema, ParquetTableJoin.scala:32-43).
    */
  def kafkaJsonStream(spark: SparkSession, bootstrapServers: String, topic: String,
      schema: StructType): DataFrame =
    kafkaStringStream(spark, bootstrapServers, topic)
      .select(from_json(col("value"), schema).as("data"), col("ts"))
      .select(col("data.*"), col("ts"))

  /** S4 — TCP socket text lines (TimeWindowWordCount.scala:16). */
  def socketTextStream(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port)
      .option("includeTimestamp", true)
      .load()

  /** S5 — text file lines: batch and streaming forms (WordCount.scala:23). */
  def textFile(spark: SparkSession, path: String): Dataset[String] =
    spark.read.textFile(path)

  def textFileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)

  /** S6 — local collection (WordCount.scala:27 fromCollection). */
  def fromCollection[T: org.apache.spark.sql.Encoder](spark: SparkSession, data: Seq[T]): Dataset[T] =
    spark.createDataset(data)

  /** CSV + JSON-lines format roundtrip, gated end-to-end (q67): the
    * dimension tables are written out in both interchange formats and
    * read back with explicit schemas (never inferSchema — a schema
    * scan over 100 TB of CSV is a full extra pass), then joined and
    * aggregated. Exercises the writers, the readers, header handling,
    * and type round-tripping through text formats.
    */
  /** Scratch dirs: per-application (race-free across concurrent
    * sessions — two apps sharing one fixed path could read each
    * other's half-written directories), overwrite-in-place within the
    * app (reruns self-clean), and removed by a JVM shutdown hook so
    * repeated application runs don't accumulate table copies in /tmp.
    */
  private val cleanupRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def scratchDir(spark: SparkSession, tag: String): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      spark.sparkContext.applicationId
    if (cleanupRegistered.add(base)) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(new java.io.File(base))))
    }
    base
  }

  def formatRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(spark, "fmt_roundtrip")
    val region = graft.tables.Tables.region(spark, dir)
    val nation = graft.tables.Tables.nation(spark, dir)
    region.write.mode("overwrite").option("header", true).csv(s"$base/region_csv")
    nation.write.mode("overwrite").json(s"$base/nation_json")
    val regionBack = spark.read.option("header", true)
      .schema(region.schema).csv(s"$base/region_csv")
    val nationBack = spark.read.schema(nation.schema).json(s"$base/nation_json")
    nationBack.join(broadcast(regionBack), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"))
  }

  val formatRoundtripSql: String =
    """SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** ORC writer→reader roundtrip (the columnar interchange format
    * besides parquet that ships in Spark core): supplier is written to
    * ORC, read back with an explicit schema, and aggregated per
    * nation. The oracle computes the same aggregate from the original
    * parquet — equality proves type-faithful round-tripping (longs,
    * ints, doubles, strings) through the ORC writer/reader pair.
    */
  def orcRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(spark, "orc_roundtrip")
    val supplier = graft.tables.Tables.supplier(spark, dir)
    supplier.write.mode("overwrite").orc(s"$base/supplier_orc")
    val back = spark.read.schema(supplier.schema).orc(s"$base/supplier_orc")
    val nation = graft.tables.Tables.nation(spark, dir)
    back.join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_bal"))
  }

  val orcRoundtripSql: String =
    """SELECT n_name, count(*) AS n_suppliers,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** q218 — malformed-input parse-mode matrix: the ingestion contract
    * a 100 TB crawl feed actually exercises. A CSV is built with a
    * DETERMINISTIC corruption rule (every n_nationkey % 5 = 0 row is
    * truncated to 2 of 3 fields — STRUCTURAL corruption; a merely
    * unparseable cell is NOT "malformed" to Spark's CSV reader, which
    * nulls it in every mode — found building this gate), then read
    * back under all three Spark parse modes:
    *   - PERMISSIVE keeps every row, nulls the bad cell, and captures
    *     the raw line in the corrupt-record column;
    *   - DROPMALFORMED silently drops exactly the corrupt rows;
    *   - FAILFAST throws on the first one (caught here, emitted as a
    *     boolean — the mode you run when silent loss is worse than a
    *     dead job).
    * Because the corruption rule is arithmetic, the oracle predicts
    * every count straight from the clean table — the gate checks the
    * PARSER's semantics, not the data.
    */
  def csvModesQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(spark, "csv_modes")
    val nation = graft.tables.Tables.nation(spark, dir)
    nation.select(
        when(col("n_nationkey") % 5 === 0,
          concat_ws(",", col("n_nationkey"), col("n_name")))
          .otherwise(concat_ws(",", col("n_nationkey"), col("n_name"),
            col("n_regionkey").cast("string")))
        .as("line"))
      .write.mode("overwrite").text(s"$base/dirty_csv")
    val schema = "k LONG, name STRING, v LONG"
    // TWO parser traps found building this gate: (1) plans referencing
    // ONLY the corrupt-record column are disallowed — materialize
    // first; (2) with CSV column pruning on, a count() parses ZERO
    // columns, so malformed rows are never even detected and
    // DROPMALFORMED/FAILFAST silently pass everything — pruning must
    // be off for the modes to mean anything on count-shaped queries.
    // The per-read `columnPruning` option overrides the session's
    // `spark.sql.csv.parser.columnPruning.enabled` for these reads only.
    def dirty(cols: String, mode: String) = spark.read.schema(cols)
      .option("mode", mode).option("columnPruning", "false")
    val withBad = dirty(schema + ", _bad STRING", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(s"$base/dirty_csv")
      .cache()
    val nPermissive = withBad.count()
    val nCorrupt = withBad.filter(col("_bad").isNotNull).count()
    val nDrop = dirty(schema, "DROPMALFORMED").csv(s"$base/dirty_csv").count()
    val failfastThrew =
      try {
        dirty(schema, "FAILFAST").csv(s"$base/dirty_csv").count()
        false
      } catch {
        // ONLY the parser's failure counts — a blanket Throwable
        // would let an OOM or FS error masquerade as the expected
        // FAILFAST exception and green the gate without testing it
        case _: org.apache.spark.SparkException => true
      }
    import spark.implicits._
    Seq((nPermissive, nCorrupt, nDrop, failfastThrew))
      .toDF("n_permissive", "n_corrupt", "n_dropmalformed", "failfast_threw")
  }

  /** Oracle: every count predicted arithmetically from the clean
    * table via the corruption rule.
    */
  val csvModesSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_permissive,
      |  CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |  CAST(sum(CASE WHEN n_nationkey % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_dropmalformed,
      |  TRUE AS failfast_threw
      |FROM nation""".stripMargin
}
