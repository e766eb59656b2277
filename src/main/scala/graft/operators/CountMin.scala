package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint64, Mix64}
import graft.tables.Tables

/** Count-Min sketch heavy hitters — the streaming-friendly frequency
  * sketch (Cormode & Muthukrishnan '05) that completes the mergeable-
  * sketch family next to HLL cardinality and approx percentiles (q80,
  * q91): d hash rows × w buckets of counters, est(x) = min over rows
  * of counter[r][h_r(x)], one-sided error (est ≥ true, over by at most
  * εN with ε = e/w at the usual depth).
  *
  * The sketch is expressed as PLAIN AGGREGATION, not a UDAF: explode
  * each token into its d (row, bucket) cells and `groupBy(row,
  * bucket).sum(cnt)` — Spark's partial aggregation IS the sketch
  * merge (every map-side combine produces a partial sketch, the
  * reduce merges them cell-wise), so the 100 TB story is the
  * aggregation framework's own: no shuffle carries more than d·w
  * cells per partition, the final sketch is d·w rows total, and the
  * same groupBy runs identically under Structured Streaming for a
  * continuously-maintained sketch. A TypedImperativeAggregate would
  * buy nothing but opacity here.
  *
  * Hashing is fmix64(fingerprint64(token) XOR seed_r) & (w−1) — the
  * repo's exactly-SQL-replicable hash pipeline (q25's), so the gate
  * can check the SKETCH CELLS THEMSELVES, not just a tolerance band:
  * the DuckDB oracle rebuilds the identical sketch in HUGEINT mod-2^64
  * arithmetic and must agree on every estimate.
  */
object CountMin {

  /** Positive 64-bit row seeds (π digits — arbitrary, fixed). */
  private[operators] val Seeds: Seq[Long] = Seq(
    0x243F6A8885A308D3L, 0x13198A2E03707344L, 0x0A4093822299F31DL, 0x082EFA98EC4E6C89L)

  private val Width = 512 // power of two so bucket = hash & (w-1) on both engines

  /** (row, bucket) cell coordinate for a token under a seed column. */
  private def bucket(tok: org.apache.spark.sql.Column, seed: org.apache.spark.sql.Column) =
    Mix64(Fingerprint64(tok).bitwiseXOR(seed)).bitwiseAND(lit((Width - 1).toLong))

  private def seedArr = array(Seeds.map(lit): _*)

  private def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** d·w cells: explode each distinct token into its d cells, sum
    * counts — partial aggregation merges per-partition sketches.
    */
  private def cellsOf(cnt: DataFrame): DataFrame = {
    cnt.select(col("tok"), col("cnt"), posexplode(seedArr).as(Seq("r", "seed")))
      .select(col("r"), bucket(col("tok"), col("seed")).as("bkt"), col("cnt"))
      .groupBy(col("r"), col("bkt")).agg(sum(col("cnt")).as("c"))
  }

  /** The (r, bkt, c) cell table for a document set — exposed so the
    * merge property (cell-wise sum of disjoint halves == whole) is
    * spec-pinnable.
    */
  private[operators] def sketchCells(docs: DataFrame, textCol: String): DataFrame =
    cellsOf(tokenCounts(docs, textCol))

  /** q157 — build the sketch over all document tokens, then report the
    * exact top-20 tokens with BOTH their true counts and their CMS
    * estimates (est ≥ true always; equality unless the token's cell
    * collides in every row). Output: (tok, exact_cnt, est_cnt).
    */
  def cmsHeavyHittersQuery(spark: SparkSession, dir: String): DataFrame = {
    val cnt = tokenCounts(Tables.documents(spark, dir), "text")
    val sketch = cellsOf(cnt)
    val candidates = cnt.orderBy(col("cnt").desc, col("tok").asc).limit(20)
    val est = candidates
      .select(col("tok"), col("cnt"), posexplode(seedArr).as(Seq("r", "seed")))
      .select(col("tok"), col("cnt"), col("r"), bucket(col("tok"), col("seed")).as("bkt"))
      .join(broadcast(sketch), Seq("r", "bkt"))
      .groupBy(col("tok"))
      .agg(max(col("cnt")).as("exact_cnt"), min(col("c")).as("est_cnt"))
    est.select(col("tok"), col("exact_cnt"), col("est_cnt"))
  }

  /** q159 — the SAME sketch maintained by Structured Streaming: token
    * occurrences stream in, each contributes 1 to its d cells, and ONE
    * streaming aggregation (groupBy(r, bkt).count — chained aggs are
    * not streamable, so cells are built from occurrences directly, not
    * from a token-count intermediate) keeps the live sketch. This is
    * the claim the batch scaladoc makes — "the same groupBy runs
    * identically under Structured Streaming" — made checkable: the
    * streamed cells must be BIT-IDENTICAL to the batch-built sketch,
    * which is what the oracle rebuilds. Complete-mode state is d·w
    * counters — constant, the whole point of sketching a stream.
    */
  def streamCmsQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = spark.readStream.schema(schema).parquet(s"$dir/{documents.parquet}")
    val cells = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("tok"), posexplode(seedArr).as(Seq("r", "seed")))
      .select(col("r"), bucket(col("tok"), col("seed")).as("bkt"))
      .groupBy(col("r"), col("bkt")).agg(count(lit(1)).as("c"))
    graft.streaming.StreamOps.runToMemory(cells, "complete")
  }

  /** Oracle: the batch sketch cells (streamed maintenance must agree
    * cell-for-cell).
    */
  val streamCmsSql: String = {
    val fp = SimHash.byteFoldFpSql("tok")
    val mix = SimHash.fmixSql("xor(fp, seed)")
    val seedList = Seeds.map(s => s"$s::HUGEINT").mkString("[", ", ", "]")
    s"""WITH cnt AS (
       |  SELECT tok, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
       |  WHERE tok <> '' GROUP BY 1),
       |hashed AS (
       |  SELECT tok, cnt, r, ($mix) & ${Width - 1}::HUGEINT AS bkt FROM (
       |    SELECT tok, cnt, s.r, s.seed, $fp AS fp
       |    FROM cnt, (SELECT CAST(g.generate_series AS INT) AS r,
       |                      ($seedList)[g.generate_series + 1] AS seed
       |               FROM generate_series(0, 3) g) s) h)
       |SELECT r, CAST(bkt AS BIGINT) AS bkt, CAST(sum(cnt) AS BIGINT) AS c
       |FROM hashed GROUP BY 1, 2""".stripMargin
  }

  /** DuckDB replica: identical sketch in HUGEINT mod-2^64 arithmetic
    * via the shared q25 hash builders.
    */
  val cmsHeavyHittersSql: String = {
    val fp = SimHash.byteFoldFpSql("tok")
    val mix = SimHash.fmixSql("xor(fp, seed)")
    val seedList = Seeds.map(s => s"$s::HUGEINT").mkString("[", ", ", "]")
    s"""WITH cnt AS (
       |  SELECT tok, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
       |  WHERE tok <> '' GROUP BY 1),
       |hashed AS (
       |  SELECT tok, cnt, r, ($mix) & ${Width - 1}::HUGEINT AS bkt FROM (
       |    SELECT tok, cnt, s.r, s.seed, $fp AS fp
       |    FROM cnt, (SELECT CAST(g.generate_series AS INT) AS r,
       |                      ($seedList)[g.generate_series + 1] AS seed
       |               FROM generate_series(0, 3) g) s) h),
       |sketch AS (SELECT r, bkt, sum(cnt) AS c FROM hashed GROUP BY 1, 2),
       |candidates AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok LIMIT 20)
       |SELECT ca.tok, ca.cnt AS exact_cnt,
       |  CAST(min(sk.c) AS BIGINT) AS est_cnt
       |FROM candidates ca
       |JOIN hashed h ON h.tok = ca.tok
       |JOIN sketch sk ON sk.r = h.r AND sk.bkt = h.bkt
       |GROUP BY 1, 2""".stripMargin
  }
}
